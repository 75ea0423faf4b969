"""Round-43 staged operators (operators/staged_r43.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the perceptual hashes against from-scratch Python byte arithmetic, the
pairing against a Python brute-force hamming sweep (the recall-1.0 theorem —
this exact check caught the 2-block pigeonhole bug during development), and
CUSUM against a Python fold replay with the S ≥ 0 invariant."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r43

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r43))
def test_staged_r43_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r43_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r43))


def _py_ahash(payload: bytes, nb: int) -> int:
    w = list(payload[:nb]) + [0] * max(0, nb - len(payload))
    mean = sum(w) // nb
    return sum(1 << j for j in range(nb) if w[j] > mean)


def test_phash_python_recompute(spark, duck):
    texts = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    rows = staged_r43.mm_phash(spark, SF_DIR).collect()
    assert len(rows) == len(texts)
    for r in rows:
        payload = texts[r.doc_id].encode("utf-8")
        assert r.phash == _py_ahash(payload, staged_r43._PHASH_BITS)
        assert r.phash16 == _py_ahash(payload, staged_r43._PHASH_COARSE_BITS)
        assert r.n_bytes == len(payload)


def test_phash_pairs_recall_theorem(spark, duck):
    """EVERY distinct-hash pair within the contract hamming distance must
    be emitted (3-block pigeonhole ⇒ recall 1.0 is a theorem, not a
    probability — a 2-block split missed cross-block double flips)."""
    texts = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    fps = Counter(
        _py_ahash(t.encode("utf-8"), staged_r43._PHASH_COARSE_BITS)
        for t in texts.values()
    )
    distinct = sorted(fps)
    want_near = {
        (a, b)
        for i, a in enumerate(distinct)
        for b in distinct[i + 1 :]
        if bin(a ^ b).count("1") <= staged_r43._PHASH_PAIR_HAMMING
    }
    got = staged_r43.mm_phash_pairs(spark, SF_DIR).collect()
    got_near = {(r.fp_a, r.fp_b) for r in got if r.fp_a != r.fp_b}
    assert got_near == want_near
    got_same = {r.fp_a for r in got if r.fp_a == r.fp_b}
    assert got_same == {fp for fp, n in fps.items() if n > 1}
    # multiplicities ride along correctly
    for r in got:
        assert (r.n_a, r.n_b) == (fps[r.fp_a], fps[r.fp_b])


def test_cusum_python_fold_replay(spark, duck):
    daily = sorted(
        duck.execute(
            "SELECT CAST(date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) "
            "AS TIMESTAMP) AS day, count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    mu = sum(x for _, x in daily) / len(daily)
    s, want = 0.0, {}
    for day, x in daily:
        s = max(0.0, s + (x - mu))
        want[day] = round(s, 6)
    rows = staged_r43.event_cusum(spark, SF_DIR).collect()
    assert {r.day: r.cusum for r in rows} == pytest.approx(want)
    band = round(5 * math.sqrt(mu), 6)
    for r in rows:
        assert r.cusum >= 0.0
        assert r.flagged == (r.cusum > band)
