"""Round-47 staged operators (operators/staged_r47.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the DP noise distribution against exact-fraction CDF thresholds (plus
mechanism-level sanity on the released counts), the zone-map census against
a brute-force per-file replay of BOTH layouts, Friedman against a pure-
Python midrank replay, and MATTR against the naive per-window set count."""

from __future__ import annotations

from collections import Counter, defaultdict
from fractions import Fraction

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r47

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r47))
def test_staged_r47_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r47_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r47))


def test_dp_thresholds_are_exact_geometric_cdf():
    """The embedded integer thresholds ARE floor(2¹⁶·CDF(k)) of the
    two-sided geometric with α = 1/2 (tails clamped at |k| = 8)."""
    for k, t in staged_r47._DP_NOISE_THRESHOLDS:
        if k == 8:
            assert t == 65536  # clamped upper tail
            continue
        if k < 0:
            cdf = Fraction(1, 3 * 2 ** (-k - 1))
        else:
            cdf = 1 - Fraction(1, 3 * 2**k)
        assert t == (cdf * 65536).__floor__(), k
    ts = [t for _, t in staged_r47._DP_NOISE_THRESHOLDS]
    assert ts == sorted(ts)


def test_dp_histogram_mechanism_replay(spark, duck):
    """noise = dp_n − true_n, equals the inverse-CDF lookup on the
    md5-16-bit uniform of the source key, and true_n matches a direct
    count. Zero-mean-ish sanity: |mean noise| ≤ 2 over the sources."""
    import hashlib

    want = dict(
        duck.execute(
            "SELECT source, count(*) FROM documents GROUP BY source"
        ).fetchall()
    )
    got = {r.source: r for r in staged_r47.pipeline_dp_histogram(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    noises = []
    for src, r in got.items():
        assert r.true_n == want[src]
        assert r.dp_n == r.true_n + r.noise
        assert r.epsilon == 0.693147
        u = int(hashlib.md5(src.encode()).hexdigest()[:15], 16) & 0xFFFF
        k_want = next(
            k for k, t in staged_r47._DP_NOISE_THRESHOLDS if u < t
        )
        assert r.noise == k_want, src
        noises.append(r.noise)
    assert abs(sum(noises) / len(noises)) <= 2.0


def test_layout_prune_bruteforce_replay(spark, duck):
    """Both layouts replayed in Python: explicit file assignment, per-file
    min/max, zone-map intersection — certifying in particular the
    operator's ANALYTIC (sort-free) sorted-layout arithmetic."""
    rows = duck.execute(
        "SELECT l_orderkey, l_linenumber, "
        "CAST(epoch_ns(l_shipdate)//1000//86400000000 AS BIGINT) FROM lineitem"
    ).fetchall()
    d0 = min(d for _, _, d in rows)
    lo = d0 + staged_r47._PRUNE_BAND_LO_DAYS
    hi = lo + staged_r47._PRUNE_BAND_DAYS
    n_match = sum(1 for _, _, d in rows if lo <= d <= hi)

    def census(assignment):
        files = defaultdict(list)
        for f, d in assignment:
            files[f].append(d)
        scanned = [
            ds for ds in files.values() if max(ds) >= lo and min(ds) <= hi
        ]
        return (
            len(files),
            len(scanned),
            sum(len(ds) for ds in scanned),
        )

    nat = census(
        (ok // staged_r47._PRUNE_ORDERS_PER_FILE, d) for ok, _, d in rows
    )
    m = (len(rows) + nat[0] - 1) // nat[0]
    srt_rows = sorted(rows, key=lambda r: (r[2], r[0], r[1]))
    srt = census((i // m, d) for i, (_, _, d) in enumerate(srt_rows))
    got = {r.layout: r for r in staged_r47.layout_prune_sim(spark, SF_DIR).collect()}
    for name, want in (("ingest_order", nat), ("shipdate_sorted", srt)):
        r = got[name]
        assert (r.n_files, r.files_scanned, r.rows_scanned) == want, name
        assert r.rows_matched == n_match
        assert r.skip_frac == pytest.approx(
            round(1 - want[1] / want[0], 6), abs=1e-9
        )
        assert r.read_amplification == pytest.approx(
            round(want[2] / n_match, 6), abs=1e-9
        )
    # the whole point: sorting must never scan more files than ingest order
    assert got["shipdate_sorted"].files_scanned <= got["ingest_order"].files_scanned


def test_friedman_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000, event_type FROM events"
    ).fetchall()
    cnt = Counter(rows)
    days = sorted({d for d, _ in rows})
    types = sorted({t for _, t in rows})
    n, k = len(days), len(types)
    r2 = defaultdict(int)
    for d in days:
        vals = [(cnt.get((d, t), 0), t) for t in types]
        svals = sorted(v for v, _ in vals)
        for v, t in vals:
            r2[t] += 2 * (svals.index(v) + 1) + svals.count(v) - 1
    # doubled midranks per block sum to k(k+1) exactly
    assert sum(r2.values()) == n * k * (k + 1)
    s2 = sum(r * r for r in r2.values())
    q = round(3 * (s2 - n * n * k * (k + 1) ** 2) / (n * k * (k + 1)), 6)
    row = staged_r47.stat_friedman(spark, SF_DIR).first()
    assert (row.n_blocks, row.k_treatments) == (n, k)
    assert row.q_stat == pytest.approx(q, abs=1e-6)
    assert row.significant == (row.q_stat > staged_r47._FRIEDMAN_CHI2_CUTOFF)
    assert row.q_stat >= 0.0


def test_mattr_naive_window_replay(spark, duck):
    W = staged_r47._MATTR_W
    rows = duck.execute("SELECT doc_id, lower(text) FROM documents").fetchall()
    got = {r.doc_id: r for r in staged_r47.text_mattr(spark, SF_DIR).collect()}
    n_eligible = 0
    for doc_id, text in rows:
        toks = text.split(" ")
        n = len(toks)
        if n < W:
            assert doc_id not in got
            continue
        n_eligible += 1
        total = sum(len(set(toks[s : s + W])) for s in range(n - W + 1))
        r = got[doc_id]
        assert (r.n_tokens, r.n_windows, r.sum_distinct) == (
            n,
            n - W + 1,
            total,
        )
        # engines round HALF_UP; python round() is banker's — compare to
        # the UNROUNDED ratio within the 6-dp rounding grain instead
        assert r.mattr == pytest.approx(
            total / ((n - W + 1) * W), abs=5.01e-7
        )
        assert 0.0 < r.mattr <= 1.0
    assert len(got) == n_eligible
