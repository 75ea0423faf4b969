"""Round-58 staged operators (operators/staged_r58.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
R/S against a chunk-by-chunk Python replay, Cronbach's α against a variance
replay (plus the split-half direction), the trimmed mean against a sort-and-
slice replay AND the winsorized-vs-trimmed relationship, and the PACF
recursions against statsmodels-free Durbin–Levinson arithmetic."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r58

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r58))
def test_staged_r58_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r58_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r58))


def _daily(duck):
    return [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]


def test_hurst_chunk_replay(spark, duck):
    ys = _daily(duck)
    got = {r.chunk_size: r for r in staged_r58.stat_hurst_rs(spark, SF_DIR).collect()}
    assert set(got) == set(staged_r58._HURST_SIZES)
    for w in staged_r58._HURST_SIZES:
        ratios = []
        for c in range(len(ys) // w):
            chunk = ys[c * w : (c + 1) * w]
            n, sy = len(chunk), sum(chunk)
            syy = sum(y * y for y in chunk)
            cum, mx, mn = 0, 0, 0
            for y in chunk:
                cum += n * y - sy
                mx, mn = max(mx, cum), min(mn, cum)
            var_n2 = n * syy - sy * sy
            if var_n2 > 0:
                ratios.append((mx - mn) / math.sqrt(var_n2))
        r = got[w]
        assert r.n_chunks == len(ratios)
        assert r.mean_rs == pytest.approx(
            sum(ratios) / len(ratios), abs=2e-6
        )
        # R/S of a w-point chunk is positive and cannot exceed w
        # (the 0-anchored range admits ratios above sqrt(w))
        assert 0 < r.mean_rs <= w


def test_cronbach_variance_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000, event_type, count(*) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    days = sorted({d for d, _, _ in rows})
    types = sorted({t for _, t, _ in rows})
    grid = {(d, t): 0 for d in days for t in types}
    for d, t, v in rows:
        grid[(d, t)] = v
    k, n = len(types), len(days)

    def var(vals):
        m = len(vals)
        s, s2 = sum(vals), sum(v * v for v in vals)
        return (m * s2 - s * s) / (m * m)

    item_vars = sum(var([grid[(d, t)] for d in days]) for t in types)
    tot_var = var([sum(grid[(d, t)] for t in types) for d in days])
    alpha = k / (k - 1) * (1 - item_vars / tot_var)
    r = staged_r58.stat_cronbach_alpha(spark, SF_DIR).first()
    assert (r.k_items, r.n_days) == (k, n)
    assert r.cronbach_alpha == pytest.approx(alpha, abs=2e-6)
    assert r.cronbach_alpha <= 1.0


def test_trimmed_mean_slice_replay(spark, duck):
    rows = duck.execute(
        "SELECT event_type, CAST(sign(value)*floor(abs(value)*100+0.5) "
        "AS BIGINT), event_id FROM events WHERE event_type IN "
        "('purchase', 'click')"
    ).fetchall()
    by_type = defaultdict(list)
    for t, c, eid in rows:
        by_type[t].append((c, eid))
    got = {r.event_type: r for r in staged_r58.agg_trimmed_mean(spark, SF_DIR).collect()}
    assert set(got) == set(staged_r58._TRIM_TYPES)
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        cut = n // 10
        kept = [c for c, _ in vals[cut : n - cut]]
        r = got[t]
        assert r.n_kept == len(kept)
        assert r.trimmed_mean_usd == pytest.approx(
            sum(kept) / len(kept) / 100, abs=5.01e-7
        )
        # trimming a symmetric band keeps the mean inside the value range
        assert min(kept) / 100 <= r.trimmed_mean_usd <= max(kept) / 100


def test_pacf_durbin_levinson_replay(spark, duck):
    ys = _daily(duck)
    n = len(ys)
    s = sum(ys)
    den = sum((n * y - s) ** 2 for y in ys)
    rho = {}
    for k in (1, 2, 3):
        num = sum(
            (n * ys[i] - s) * (n * ys[i + k] - s) for i in range(n - k)
        )
        rho[k] = round(num / den, 6)
    phi1 = rho[1]
    phi2 = (rho[2] - rho[1] ** 2) / (1 - rho[1] ** 2)
    phi21 = rho[1] * (1 - phi2)
    phi3 = (rho[3] - phi21 * rho[2] - phi2 * rho[1]) / (
        1 - phi21 * rho[1] - phi2 * rho[2]
    )
    got = {r.lag: r for r in staged_r58.stat_pacf(spark, SF_DIR).collect()}
    assert set(got) == {1, 2, 3}
    for k in (1, 2, 3):
        assert got[k].acf == pytest.approx(rho[k], abs=1e-6)
    assert got[1].pacf == pytest.approx(phi1, abs=1e-6)
    assert got[2].pacf == pytest.approx(phi2, abs=2e-6)
    assert got[3].pacf == pytest.approx(phi3, abs=2e-6)
    # lag-1 PACF IS the lag-1 ACF by definition
    assert got[1].pacf == got[1].acf
