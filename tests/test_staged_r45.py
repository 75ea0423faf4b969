"""Round-45 staged operators (operators/staged_r45.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the sniff census against doc_id arithmetic + a real magic-byte re-read, the
JL census against a from-scratch numpy replay (plus the hashlib-vs-SQL-md5
sign parity and the Rademacher expectation sanity), inter-arrival moments
against a Python gap replay, and the heteroscedasticity ρ against scipy-free
rank arithmetic."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r45

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r45))
def test_staged_r45_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r45_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r45))


def test_magic_sniff_bytes_reread(spark, duck):
    """Census equals doc_id arithmetic AND each staged blob really starts
    with the magic its class claims."""
    import glob
    import os
    import tempfile

    got = {
        r.detected: (r.n_files, r.sum_bytes)
        for r in staged_r45.mm_magic_sniff(spark, SF_DIR).collect()
    }
    rows = duck.execute(
        f"SELECT doc_id, octet_length(encode(text)) FROM documents "
        f"WHERE doc_id < {staged_r45._SNIFF_DOCS}"
    ).fetchall()
    want = {}
    for doc_id, nb in rows:
        kind = staged_r45._SNIFF_TYPES[doc_id % 4]
        n, s = want.get(kind, (0, 0))
        want[kind] = (n + 1, s + nb + staged_r45._SNIFF_HEADER_BYTES[kind])
    assert got == want
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_sniff_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    magics = {"png": b"\x89PNG\r\n\x1a\n", "wav": b"RIFF", "npy": b"\x93NUMPY"}
    for path in glob.glob(os.path.join(stage, "*.bin")):
        doc_id = int(os.path.basename(path).split(".")[0])
        kind = staged_r45._SNIFF_TYPES[doc_id % 4]
        head = open(path, "rb").read(12)
        if kind in magics:
            assert head.startswith(magics[kind])
            if kind == "wav":
                assert head[8:12] == b"WAVE"
        else:
            assert not any(head.startswith(m) for m in magics.values())


def _jl_quant(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) * staged_r45._JL_SCALE + 0.5), x))


def test_jl_signs_match_sql_md5(duck):
    """The module-level hashlib sign matrix IS the oracle's SQL md5
    derivation — pinned so neither side can drift."""
    for j in range(staged_r45._JL_K):
        for i in range(0, staged_r45._JL_D, 7):  # sampled lattice
            sgn = duck.execute(
                "SELECT 1 - 2 * (CAST(('0x' || substr(md5('jl:' || CAST(? AS "
                "VARCHAR) || ':' || CAST(? AS VARCHAR)), 1, 2)) AS BIGINT) % 2)",
                [j, i],
            ).fetchone()[0]
            assert sgn == staged_r45._JL_SIGNS[j][i]


def test_jl_numpy_replay(spark, duck):
    import numpy as np

    vecs = dict(
        duck.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    )
    q = {v: np.array([_jl_quant(x) for x in e], dtype=object) for v, e in vecs.items()}
    S = np.array(staged_r45._JL_SIGNS, dtype=object)
    p = {v: S @ qq for v, qq in q.items()}
    d2o = d2p = 0
    n = below = above = within = 0
    k = staged_r45._JL_K
    for v in sorted(vecs):
        if v + 1 not in vecs:
            continue
        o = int(sum((q[v] - q[v + 1]) ** 2))
        pr = int(sum((p[v] - p[v + 1]) ** 2))
        n += 1
        d2o += o
        d2p += pr
        if 2 * abs(pr - k * o) <= k * o:
            within += 1
        if 2 * (pr - k * o) < -(k * o):
            below += 1
        if 2 * (pr - k * o) > k * o:
            above += 1
    row = staged_r45.sim_jl_projection(spark, SF_DIR).first()
    assert row.n_pairs == n
    assert row.ratio_of_sums == pytest.approx(d2p / (k * d2o), abs=1e-6)
    assert (row.n_within_50pct, row.n_below, row.n_above) == (within, below, above)
    assert row.n_within_50pct + row.n_below + row.n_above == n
    # Rademacher expectation: the pooled ratio concentrates near 1
    assert 0.5 < row.ratio_of_sums < 1.5


def test_inter_arrival_python_replay(spark, duck):
    import math

    raw = duck.execute(
        "SELECT event_type, epoch_ns(ts) // 1000, event_id FROM events"
    ).fetchall()
    by_type = {}
    for et, us, eid in raw:
        by_type.setdefault(et, []).append((us, eid))
    got = {r.event_type: r for r in staged_r45.event_inter_arrival(spark, SF_DIR).collect()}
    assert set(got) == set(by_type)
    for et, evs in by_type.items():
        evs.sort()
        gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
        n, s, s2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
        r = got[et]
        assert r.n_gaps == n
        assert r.mean_gap_us == s / n
        cv = round(math.sqrt(n * s2 - s * s) / s, 6)
        assert r.cv == pytest.approx(cv, abs=1e-6)
        assert r.burstiness == pytest.approx(round((r.cv - 1) / (r.cv + 1), 6), abs=1e-6)
        assert r.rate_per_hour == pytest.approx(round(n * 3_600_000_000 / s, 6), abs=1e-6)
        assert -1.0 < r.burstiness < 1.0


def test_het_spearman_rank_replay(spark, duck):
    rows = duck.execute(
        f"WITH {staged_r45.TREND_RESID_CTES} SELECT t, abs(ee) FROM e"
    ).fetchall()
    n = len(rows)
    a_vals = [a for _, a in rows]
    cnt = Counter(a_vals)
    srt = sorted(a_vals)
    first = {}
    for idx, v in enumerate(srt, start=1):
        first.setdefault(v, idx)
    ra = {v: 2 * first[v] + cnt[v] - 1 for v in cnt}
    pairs = [(2 * int(t), ra[a]) for t, a in rows]
    st = sum(x for x, _ in pairs)
    sa = sum(y for _, y in pairs)
    st2 = sum(x * x for x, _ in pairs)
    sa2 = sum(y * y for _, y in pairs)
    sta = sum(x * y for x, y in pairs)
    import math

    rho = round(
        (n * sta - st * sa)
        / math.sqrt((n * st2 - st * st) * (n * sa2 - sa * sa)),
        6,
    )
    row = staged_r45.stat_het_spearman(spark, SF_DIR).first()
    assert row.n_days == n
    assert row.rho == pytest.approx(rho, abs=1e-6)
    assert row.heteroscedastic == (abs(row.rho) > staged_r45._HET_RHO_CUTOFF)
    assert -1.0 <= row.rho <= 1.0
