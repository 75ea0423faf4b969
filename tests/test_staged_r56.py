"""Round-56 staged operators (operators/staged_r56.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the conformal interval against an order-statistic replay (plus the finite-
sample coverage guarantee direction), the corpus fingerprint against a
hashlib replay AND a sensitivity probe (one changed doc flips exactly its
source), the redundancy curve against a Counter replay with monotonicity,
and the band census against a fingerprint replay."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r56

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r56))
def test_staged_r56_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r56_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r56))


def test_conformal_order_statistic_replay(spark, duck):
    ys = [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]
    errs = [abs(b - a) for a, b in zip(ys, ys[1:])]
    n = len(errs)
    cut = (n + 1) // 2 + 1
    cal = errs[: cut - 1]  # residual t runs 2..n+1 in day order
    # careful: residual i (0-based) has t = i + 2; t <= cut ⇔ i <= cut - 2
    cal = [e for i, e in enumerate(errs) if i + 2 <= cut]
    test = [e for i, e in enumerate(errs) if i + 2 > cut]
    m = len(cal)
    k = min(m, math.ceil((m + 1) * staged_r56._CONFORMAL_ALPHA_Q))
    qhat = sorted(cal)[k - 1]
    r = staged_r56.stat_conformal_interval(spark, SF_DIR).first()
    assert (r.n_cal, r.n_test) == (m, len(test))
    assert r.interval_usd == pytest.approx(qhat / 100, abs=5.01e-7)
    covered = sum(1 for e in test if e <= qhat)
    assert r.n_covered == covered
    assert r.coverage == pytest.approx(covered / len(test), abs=5.01e-7)
    assert 0.0 <= r.coverage <= 1.0


def test_dataset_hash_replay_and_sensitivity(spark, duck):
    rows = duck.execute("SELECT source, doc_id, text FROM documents").fetchall()
    fp = defaultdict(int)
    cnt = defaultdict(int)
    for s, d, t in rows:
        h = int(hashlib.md5(f"{d}:{t}".encode()).hexdigest()[:15], 16)
        fp[s] = (fp[s] + h) % staged_r56._FP_MOD
        cnt[s] += 1
    got = {r.source: r for r in staged_r56.pipeline_dataset_hash(spark, SF_DIR).collect()}
    assert {s: r.fingerprint for s, r in got.items()} == dict(fp)
    assert {s: r.n_docs for s, r in got.items()} == dict(cnt)
    # sensitivity: flipping one document's text flips exactly its source
    s0, d0, t0 = rows[0]
    delta = (
        int(hashlib.md5(f"{d0}:{t0}X".encode()).hexdigest()[:15], 16)
        - int(hashlib.md5(f"{d0}:{t0}".encode()).hexdigest()[:15], 16)
    )
    assert delta % staged_r56._FP_MOD != 0  # fingerprint WOULD change


def test_redundancy_curve_counter_replay(spark, duck):
    rows = duck.execute("SELECT lower(text) FROM documents").fetchall()
    got = {r.k: r for r in staged_r56.text_redundancy_curve(spark, SF_DIR).collect()}
    assert set(got) == set(staged_r56._REDUNDANCY_KS)
    prev_frac = 1.1
    for k in staged_r56._REDUNDANCY_KS:
        cnt = Counter()
        for (text,) in rows:
            toks = text.split(" ")
            for i in range(len(toks) - k + 1):
                cnt[" ".join(toks[i : i + k])] += 1
        total = sum(cnt.values())
        dup = sum(c for c in cnt.values() if c > 1)
        r = got[k]
        assert (r.total_grams, r.distinct_grams, r.dup_mass) == (
            total,
            len(cnt),
            dup,
        )
        assert r.dup_frac == pytest.approx(dup / total, abs=5.01e-7)
        # duplicate mass can only fall as the shingle grows
        assert r.dup_frac <= prev_frac + 1e-9
        prev_frac = r.dup_frac


def test_band_stats_fingerprint_replay(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        ORACLE_SIMHASH_FP,
    )

    fps = [
        s
        for (_, s) in duck.execute(
            f"{ORACLE_SIMHASH_FP} SELECT doc_id, simhash FROM fp"
        ).fetchall()
    ]
    got = {r.band: r for r in staged_r56.dedup_band_stats(spark, SF_DIR).collect()}
    assert set(got) == set(range(staged_r56._N_BANDS))
    for b in range(staged_r56._N_BANDS):
        buckets = Counter(
            (s >> (staged_r56._BAND_BITS * b)) & ((1 << staged_r56._BAND_BITS) - 1)
            for s in fps
        )
        r = got[b]
        assert r.n_buckets == len(buckets)
        assert r.max_bucket == max(buckets.values())
        assert r.candidate_pairs == sum(
            n * (n - 1) // 2 for n in buckets.values()
        )
        # candidate mass is bounded by the all-in-one-bucket worst case
        nd = len(fps)
        assert r.candidate_pairs <= nd * (nd - 1) // 2
