"""Round-53 staged operators (operators/staged_r53.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the log-rank O/E/V against a per-death-time Python replay, the block
bootstrap against a hashlib resample replay, Luhn against python-stdlib-free
digit math (plus the single-digit detection guarantee), and ICC against an
exact ANOVA replay."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r53

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r53))
def test_staged_r53_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r53_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r53))


def test_logrank_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT user_id, min(epoch_ns(ts)//1000), max(epoch_ns(ts)//1000) "
        "FROM events GROUP BY user_id"
    ).fetchall()
    gmax = max(hi for _, _, hi in rows)
    spans = [
        (
            u % 2,
            (hi - lo) // staged_r53._US_PER_HOUR,
            hi >= gmax - staged_r53._CENSOR_US,
        )
        for u, lo, hi in rows
    ]
    times = sorted({lt for _, lt, cen in spans if not cen})
    oa = ea = v = 0.0
    for t in times:
        na = sum(1 for a, lt, _ in spans if lt >= t and a == 0)
        nt = sum(1 for _, lt, _ in spans if lt >= t)
        da = sum(1 for a, lt, cen in spans if lt == t and a == 0 and not cen)
        dt = sum(1 for _, lt, cen in spans if lt == t and not cen)
        oa += da
        ea += dt * na / nt
        if nt > 1:
            v += dt * (na / nt) * (1 - na / nt) * (nt - dt) / (nt - 1)
    r = staged_r53.stat_logrank(spark, SF_DIR).first()
    assert r.n_a == sum(1 for a, _, _ in spans if a == 0)
    assert r.n_b == sum(1 for a, _, _ in spans if a == 1)
    assert r.observed_a == int(oa)
    assert r.expected_a == pytest.approx(ea, abs=5.01e-7)
    assert r.chi2 == pytest.approx((oa - ea) ** 2 / v, abs=2e-6)
    assert r.significant == (r.chi2 > staged_r53._LOGRANK_CHI2_CUTOFF)
    assert r.observed_a <= r.n_a  # arm A can't die more than it has users


def test_block_bootstrap_hashlib_replay(spark, duck):
    ys = [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]
    n, L, B = len(ys), staged_r53._BB_L, staged_r53._BB_B
    nb = (n + L - 1) // L
    sums = []
    for b in range(B):
        tot = 0
        for i in range(nb):
            s = (
                int(hashlib.md5(f"bb:{b}:{i}".encode()).hexdigest()[:15], 16)
                % (n - L + 1)
            )
            for o in range(L):
                if i * L + o < n:
                    tot += ys[s + o]
        sums.append(tot)
    sm, sm2 = sum(sums), sum(m * m for m in sums)
    block_se = math.sqrt((B * sm2 - sm * sm) / (B * (B - 1))) / n / 100
    sy, syy = sum(ys), sum(y * y for y in ys)
    iid_se = math.sqrt(((n * syy - sy * sy) / (n * (n - 1))) / n) / 100
    r = staged_r53.stat_block_bootstrap(spark, SF_DIR).first()
    assert (r.n_days, r.block_len, r.n_resamples) == (n, L, B)
    assert r.mean_usd == pytest.approx(sy / n / 100, abs=5.01e-7)
    assert r.block_se_usd == pytest.approx(block_se, abs=2e-6)
    assert r.iid_se_usd == pytest.approx(iid_se, abs=2e-6)
    assert r.block_se_usd > 0 and r.iid_se_usd > 0


def _luhn_ok(pan: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(pan)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_luhn_detection_identity(spark, duck):
    doc_ids = [d for (d,) in duck.execute("SELECT doc_id FROM documents").fetchall()]
    got = {r.corrupted: r for r in staged_r53.fn_luhn_check(spark, SF_DIR).collect()}
    n_corrupt = sum(1 for d in doc_ids if d % 5 == 0)
    assert got[True].n == n_corrupt
    assert got[False].n == len(doc_ids) - n_corrupt
    # Luhn catches EVERY single-digit corruption; clean numbers all pass
    assert got[True].n_valid == 0
    assert got[False].n_valid == got[False].n
    # replay a few PANs end-to-end with an independent validator
    for d in doc_ids[:20]:
        body = "4" + str((d * 7919 + 123456789) % 10**14).zfill(14)
        total = 0
        for i, ch in enumerate(reversed(body)):
            x = int(ch)
            if i % 2 == 0:
                x *= 2
                if x > 9:
                    x -= 9
            total += x
        check = (10 - total % 10) % 10
        if d % 5 == 0:
            check = (check + 1) % 10
        pan = body + str(check)
        assert _luhn_ok(pan) == (d % 5 != 0)


def test_icc_anova_replay(spark, duck):
    rows = duck.execute(
        "SELECT user_id, CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)"
        " FROM events WHERE event_type = 'purchase'"
    ).fetchall()
    groups = defaultdict(list)
    for u, x in rows:
        groups[u].append(x)
    groups = {u: xs for u, xs in groups.items() if len(xs) >= 2}
    k = len(groups)
    all_x = [x for xs in groups.values() for x in xs]
    N = len(all_x)
    gm = sum(all_x) / N
    ssb = sum(len(xs) * (sum(xs) / len(xs) - gm) ** 2 for xs in groups.values())
    ssw = sum(
        sum((x - sum(xs) / len(xs)) ** 2 for x in xs)
        for xs in groups.values()
    )
    msb, msw = ssb / (k - 1), ssw / (N - k)
    n0 = (N - sum(len(xs) ** 2 for xs in groups.values()) / N) / (k - 1)
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    r = staged_r53.stat_icc(spark, SF_DIR).first()
    assert (r.k_groups, r.n_obs) == (k, N)
    assert r.msb_usd2 == pytest.approx(msb / 10000, rel=1e-6)
    assert r.msw_usd2 == pytest.approx(msw / 10000, rel=1e-6)
    assert r.n0 == pytest.approx(n0, abs=5.01e-7)
    assert r.icc == pytest.approx(icc, abs=2e-6)
    assert -1.0 < r.icc < 1.0
