"""Round-40 staged operators (operators/staged_r40.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the temporal split against Python set arithmetic with the no-span-overlap
invariant, seasonal strength against a from-scratch decompose+variance
replay with the [0,1] bound, and group z-scores against statistics-module
math with the within-group mean-zero/unit-variance identities."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r40

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r40))
def test_staged_r40_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r40_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r40))


def _event_days(duck):
    return duck.execute(
        "SELECT user_id, event_id, CAST(((epoch_ns(ts) // 1000) - "
        "((((epoch_ns(ts) // 1000) % 86400000000) + 86400000000) "
        "% 86400000000)) // 86400000000 AS BIGINT) FROM events"
    ).fetchall()


def test_time_holdout_set_arithmetic(spark, duck):
    evs = _event_days(duck)
    d0 = min(d for _, _, d in evs)
    cut = d0 + staged_r40._HOLDOUT_TRAIN_DAYS
    tr_users = {u for u, _, d in evs if d < cut}
    ho_users = {u for u, _, d in evs if d >= cut}
    rows = {r.split: r for r in staged_r40.split_time_holdout(spark, SF_DIR).collect()}
    assert set(rows) == {"train", "holdout"}
    tr, ho = rows["train"], rows["holdout"]
    assert tr.n_events == sum(1 for _, _, d in evs if d < cut)
    assert ho.n_events == sum(1 for _, _, d in evs if d >= cut)
    assert (tr.n_users, ho.n_users) == (len(tr_users), len(ho_users))
    assert tr.overlap_users == len(tr_users & ho_users)
    assert ho.overlap_users == tr.overlap_users
    # the defining invariant: the day spans do not overlap
    assert tr.last_day < ho.first_day
    # and entity leakage is a real, visible quantity on this corpus
    assert tr.overlap_users > 0


def test_seasonality_strength_replay(spark, duck):
    evs = _event_days(duck)
    days = defaultdict(int)
    for _, _, d in evs:
        days[d] += 1
    series = sorted(days.items())
    full = []
    for i in range(3, len(series) - 3):
        day, cnt = series[i]
        sum7 = sum(c for _, c in series[i - 3 : i + 4])
        full.append((day, cnt, sum7, ((day % 7) + 7) % 7, 7 * cnt - sum7))
    sden = defaultdict(int)
    kk = defaultdict(int)
    for _, _, _, dow, det7 in full:
        sden[dow] += det7
        kk[dow] += 1
    seas = []
    resid = []
    for day, cnt, sum7, dow, _ in full:
        sv = sden[dow] / (7.0 * kk[dow])
        rv = cnt - sum7 / 7.0 - sv
        seas.append(sv)
        resid.append(rv)

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / len(xs)

    fs = max(0.0, 1.0 - var(resid) / var([a + b for a, b in zip(seas, resid)]))
    r = staged_r40.event_seasonality_strength(spark, SF_DIR).collect()[0]
    assert r.n == len(full)
    assert abs(r.f_seasonal - fs) < 1e-3
    assert 0.0 <= r.f_seasonal <= 1.0


def test_group_zscore_statistics_module(spark, duck):
    evs = _event_days(duck)
    types = duck.execute(
        "SELECT event_type, CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts)"
        " // 1000) % 86400000000) + 86400000000) % 86400000000)) "
        "// 86400000000 AS BIGINT), count(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per = defaultdict(dict)
    for t, d, c in types:
        per[t][d] = c
    rows = defaultdict(dict)
    for r in staged_r40.win_group_zscore(spark, SF_DIR).collect():
        rows[r.event_type][r.day] = r
    assert set(rows) == set(per)
    for t, days in per.items():
        xs = list(days.values())
        n = len(xs)
        mu = sum(xs) / n
        sigma = math.sqrt(sum((x - mu) ** 2 for x in xs) / n)
        zsum = 0.0
        for d, c in days.items():
            r = rows[t][d]
            z = (c - mu) / sigma
            assert abs(r.z - z) < 1e-3
            assert r.is_outlier == (abs(z) > 3.0) or abs(abs(z) - 3.0) < 1e-9
            zsum += z
        # within-group z-scores are mean-zero by construction
        assert abs(zsum / n) < 1e-6
