"""Round-57 staged operators (operators/staged_r57.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
Greenwood against a curve replay (and consistency with the registered
event_survival values), the uniformity χ² against a Counter replay, the
Poisson bootstrap against a hashlib weight replay (plus the embedded CDF
table against exact math), and PRESS against an explicit leave-one-out refit
loop — the strongest possible check of the closed form."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r57

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r57))
def test_staged_r57_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r57_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r57))


def test_greenwood_curve_replay(spark, duck):
    rows = duck.execute(
        "SELECT min(epoch_ns(ts)//1000), max(epoch_ns(ts)//1000), user_id "
        "FROM events GROUP BY user_id"
    ).fetchall()
    gmax = max(hi for _, hi, _ in rows)
    spans = [
        (
            (hi - lo) // staged_r57._US_PER_HOUR,
            hi >= gmax - staged_r57._CENSOR_US,
        )
        for lo, hi, _ in rows
    ]
    durs = sorted({lt for lt, _ in spans})
    got = sorted(
        staged_r57.stat_km_greenwood_ci(spark, SF_DIR).collect(),
        key=lambda r: r.duration_hours,
    )
    assert [r.duration_hours for r in got] == durs
    surv, gwsum = 1.0, 0.0
    for r in got:
        d = r.duration_hours
        n_risk = sum(1 for lt, _ in spans if lt >= d)
        deaths = sum(1 for lt, cen in spans if lt == d and not cen)
        assert (r.n_risk, r.n_deaths) == (n_risk, deaths)
        surv *= 1 - deaths / n_risk
        if n_risk > deaths:
            gwsum += deaths / (n_risk * (n_risk - deaths))
        assert r.survival == pytest.approx(surv, abs=2e-6)
        assert r.greenwood_se == pytest.approx(
            surv * math.sqrt(gwsum), abs=2e-6
        )
        assert r.greenwood_se >= 0.0
    # the survival column must MATCH the registered event_survival curve
    from parallel_mapreduce_wordcounting_spark.operators.staged_r10 import (
        event_survival,
    )

    base = {
        r.duration_hours: r.survival
        for r in event_survival(spark, SF_DIR).collect()
    }
    for r in got:
        assert r.survival == base[r.duration_hours]


def test_hash_uniformity_counter_replay(spark, duck):
    ids = [d for (d,) in duck.execute("SELECT doc_id FROM documents").fetchall()]
    B = staged_r57._HU_BUCKETS
    cnt = Counter(
        int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16) % B
        for d in ids
    )
    n = len(ids)
    chi2 = sum((B * k - n) ** 2 for k in cnt.values()) / (B * n)
    r = staged_r57.dq_hash_uniformity(spark, SF_DIR).first()
    assert (r.n_keys, r.n_buckets) == (n, B)
    assert r.buckets_used == len(cnt)
    assert r.max_bucket == max(cnt.values())
    assert r.chi2 == pytest.approx(chi2, abs=2e-6)
    # a healthy hash sits near df = B-1; a broken one blows up by orders
    assert r.chi2 < 3 * (B - 1)


def test_poisson_table_and_weight_replay(spark, duck):
    # the embedded thresholds ARE floor(2^16 · CDF(k)) of Poisson(1)
    cum = 0.0
    for k, t in staged_r57._PB_THRESHOLDS:
        if k == staged_r57._PB_THRESHOLDS[-1][0]:
            assert t == 65536
            continue
        cum += math.exp(-1) / math.factorial(k)
        assert t == min(65536, int(cum * 65536)), k
    ys = [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]
    mus = []
    for b in range(staged_r57._PB_B):
        s = m = 0
        for t, y in enumerate(ys, start=1):
            u = (
                int(hashlib.md5(f"pb:{b}:{t}".encode()).hexdigest()[:15], 16)
                & 0xFFFF
            )
            w = next(k for k, thr in staged_r57._PB_THRESHOLDS if u < thr)
            s += w * y
            m += w
        if m > 0:
            mus.append(s / m)
    B = len(mus)
    sm, sm2 = sum(mus), sum(x * x for x in mus)
    se = math.sqrt((B * sm2 - sm * sm) / (B * (B - 1))) / 100
    r = staged_r57.sample_poisson_bootstrap(spark, SF_DIR).first()
    assert r.n_resamples == B
    assert r.poisson_se_usd == pytest.approx(se, abs=2e-6)
    assert r.poisson_se_usd > 0


def test_press_against_explicit_loo_refits(spark, duck):
    """The closed form e/(1−h) equals ACTUALLY refitting n times with one
    point held out — the definitive check of the leverage algebra."""
    ys = [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]
    n = len(ys)
    ts_ = list(range(1, n + 1))

    def fit(pairs):
        m = len(pairs)
        st = sum(t for t, _ in pairs)
        st2 = sum(t * t for t, _ in pairs)
        sy = sum(y for _, y in pairs)
        sty = sum(t * y for t, y in pairs)
        den = m * st2 - st * st
        b = (m * sty - st * sy) / den
        a = (sy - b * st) / m
        return a, b

    press = 0.0
    for i in range(n):
        held_t, held_y = ts_[i], ys[i]
        a, b = fit([(t, y) for j, (t, y) in enumerate(zip(ts_, ys)) if j != i])
        press += (held_y - (a + b * held_t)) ** 2
    gm = sum(ys) / n
    sstot = sum((y - gm) ** 2 for y in ys)
    r = staged_r57.stat_press(spark, SF_DIR).first()
    assert r.n_days == n
    assert r.press_usd2 == pytest.approx(press / 1e8, rel=1e-6)
    assert r.r2_pred == pytest.approx(1 - press / sstot, abs=2e-6)
    # PRESS residuals are inflated ordinary residuals: PRESS >= SSR
    a, b = fit(list(zip(ts_, ys)))
    ssr = sum((y - (a + b * t)) ** 2 for t, y in zip(ts_, ys))
    assert press >= ssr - 1e-6
