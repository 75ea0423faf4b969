"""Round-46 staged operators (operators/staged_r46.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the MaxSim census against a pure-Python replay (plus the XOR-popcount dot-
product identity and the identity-ranking sanity), the WAV energy census
against a numpy replay of the generator formula AND a byte-level re-read of
the staged blobs, the Chow F against an exact-fractions replay, and HITS
against a dict-aggregation replay of both sweeps."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r46

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r46))
def test_staged_r46_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r46_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r46))


def _gram_h16(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) & 0xFFFF


def test_maxsim_xor_popcount_identity():
    """dot(u, v) for ±1 vectors u_i = 1-2a_i, v_i = 1-2b_i equals
    16 − 2·popcount(a XOR b) — the identity the JVM plan relies on."""
    import random

    rng = random.Random(46)
    for _ in range(50):
        a, b = rng.getrandbits(16), rng.getrandbits(16)
        dot = sum(
            (1 - 2 * ((a >> i) & 1)) * (1 - 2 * ((b >> i) & 1))
            for i in range(16)
        )
        assert dot == 16 - 2 * bin((a ^ b) & 0xFFFF).count("1")


def test_maxsim_python_replay(spark, duck):
    """Full replay: bigram sets, hashed 16-bit embeddings, MaxSim scores,
    and the top-5 per query — identical to the operator's output. Also
    the identity sanity: every query ranks ITSELF first with its maximal
    possible score (16 per distinct query bigram)."""
    rows = duck.execute("SELECT doc_id, lower(text) FROM documents").fetchall()
    toks = {}
    for doc_id, text in rows:
        ws = text.split(" ")
        if len(ws) < 2:
            continue
        grams = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
        toks[doc_id] = {_gram_h16(g) for g in grams}
    q_docs = sorted(d for d in toks if d < staged_r46._MAXSIM_Q_DOCS)
    want = {}
    for q in q_docs:
        scores = {}
        for d, hs in toks.items():
            s16 = 0
            for hq in toks[q]:
                mp = min(bin((hq ^ hd) & 0xFFFF).count("1") for hd in hs)
                s16 += 16 - 2 * mp
            scores[d] = s16
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        want[q] = [
            (rnk, d, s16)
            for rnk, (d, s16) in enumerate(
                top[: staged_r46._MAXSIM_TOPK], start=1
            )
        ]
    got = defaultdict(list)
    for r in staged_r46.sim_maxsim(spark, SF_DIR).collect():
        got[r.qid].append((r.rank, r.doc_id, r.score16))
        assert r.maxsim == r.score16 / 16.0  # exact binary fraction
    assert {q: sorted(v) for q, v in got.items()} == want
    for q in q_docs:  # identity ranks first at the saturated score
        rnk, d, s16 = want[q][0]
        assert (rnk, d) == (1, q)
        assert s16 == 16 * len(toks[q])


def test_wav_energy_numpy_replay(spark):
    import numpy as np

    got = {
        r.doc_id: r for r in staged_r46.mm_wav_energy(spark, SF_DIR).collect()
    }
    assert len(got) == staged_r46._WAVE_DOC_HI - staged_r46._WAVE_DOC_LO
    for doc_id, r in got.items():
        n = 160 + (doc_id % 17) * 8
        k = np.arange(n, dtype=np.int64)
        v = (doc_id * 7919 + k * 104729 + 12345) % 65536 - 32768
        assert r.n_samples == n
        assert r.peak_abs == int(np.max(np.abs(v)))
        assert r.sum_s == int(v.sum())
        assert r.rms == pytest.approx(
            round(float(np.sqrt(float((v * v).sum()) / n)), 6), abs=1e-9
        )
        assert r.zero_crossings == int(((v[1:] < 0) != (v[:-1] < 0)).sum())


def test_wav_energy_blob_reread(spark):
    """The staged blobs really are canonical PCM16 WAVs whose payload
    matches the generator formula byte for byte."""
    import glob
    import os
    import struct
    import tempfile

    staged_r46.mm_wav_energy(spark, SF_DIR).collect()  # ensure staging ran
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_wavpcm_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    paths = glob.glob(os.path.join(stage, "*.wav"))
    assert len(paths) == staged_r46._WAVE_DOC_HI - staged_r46._WAVE_DOC_LO
    for path in paths:
        doc_id = int(os.path.basename(path).split(".")[0])
        blob = open(path, "rb").read()
        assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
        n = 160 + (doc_id % 17) * 8
        assert struct.unpack("<I", blob[40:44])[0] == 2 * n
        samples = struct.unpack(f"<{n}h", blob[44:])
        for kk in (0, 1, n // 2, n - 1):
            assert (
                samples[kk]
                == (doc_id * 7919 + kk * 104729 + 12345) % 65536 - 32768
            )


def test_chow_fractions_replay(spark, duck):
    """Chow F recomputed with exact rational arithmetic (fractions), only
    converting at the final rounding — certifies the closed-form SSR
    algebra AND that one double division per SSR stays inside 6 dp."""
    from fractions import Fraction

    ys = [
        y
        for (y,) in duck.execute(
            f"WITH g AS (SELECT {staged_r46.floor_day_us_sql()} AS day, "
            f"CAST(sum({staged_r46.money_cents_sql('value')}) AS BIGINT) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "SELECT y FROM g ORDER BY day"
        ).fetchall()
    ]
    n = len(ys)

    def ssr(seg):
        m = len(seg)
        st = sum(t for t, _ in seg)
        st2 = sum(t * t for t, _ in seg)
        sy = sum(y for _, y in seg)
        syy = sum(y * y for _, y in seg)
        sty = sum(t * y for t, y in seg)
        a = m * syy - sy * sy
        d = m * st2 - st * st
        nn = m * sty - st * sy
        return Fraction(a * d - nn * nn, m * d)

    series = list(enumerate(ys, start=1))
    mid = [p for p in series if 2 * p[0] <= n]
    rest = [p for p in series if 2 * p[0] > n]
    s0, s1, s2 = ssr(series), ssr(mid), ssr(rest)
    f_exact = ((s0 - s1 - s2) / 2) / ((s1 + s2) / (n - 4))
    row = staged_r46.stat_chow(spark, SF_DIR).first()
    assert (row.n_days, row.n_pre, row.n_post) == (n, len(mid), len(rest))
    assert row.ssr_pooled_usd2 == pytest.approx(float(s0) / 10000, rel=1e-9)
    assert row.ssr_within_usd2 == pytest.approx(
        float(s1 + s2) / 10000, rel=1e-9
    )
    assert row.f_stat == pytest.approx(float(f_exact), abs=2e-6)
    assert row.break_detected == (row.f_stat > staged_r46._CHOW_F_CUTOFF)
    assert row.f_stat >= 0.0


def test_hits_dict_replay(spark, duck):
    """Both HITS sweeps replayed with plain dict aggregation from the
    DuckDB edge list; also the degree identity a¹ = deg(p) implies every
    authority score is ≥ its part's degree after sweep two."""
    pairs = duck.execute(
        "SELECT DISTINCT o.o_custkey, l.l_partkey FROM orders o "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
    ).fetchall()
    a1 = Counter(p for _, p in pairs)
    h1 = defaultdict(int)
    for c, p in pairs:
        h1[c] += a1[p]
    a2 = defaultdict(int)
    for c, p in pairs:
        a2[p] += h1[c]
    h2 = defaultdict(int)
    for c, p in pairs:
        h2[c] += a2[p]
    top_a = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[
        : staged_r46._HITS_TOPK
    ]
    top_h = sorted(h2.items(), key=lambda kv: (-kv[1], kv[0]))[
        : staged_r46._HITS_TOPK
    ]
    am, hm = max(a2.values()), max(h2.values())
    got = staged_r46.graph_hits(spark, SF_DIR).collect()
    got_a = sorted(
        (r.rank, r.id, r.score) for r in got if r.role == "authority"
    )
    got_h = sorted((r.rank, r.id, r.score) for r in got if r.role == "hub")
    assert got_a == [(i + 1, p, s) for i, (p, s) in enumerate(top_a)]
    assert got_h == [(i + 1, c, s) for i, (c, s) in enumerate(top_h)]
    for r in got:
        ref = am if r.role == "authority" else hm
        assert r.norm_score == pytest.approx(round(r.score / ref, 6), abs=1e-9)
        assert r.score >= 1
    assert got_a[0][0] == 1 and got_a[0][2] == am  # rank 1 is the max
    assert got_h[0][2] == hm
