"""Round-41 staged operators (operators/staged_r41.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
scaling against Python min/max math with the [0,1]-bounds and extremes-map-
to-0/1 identities, repeat rates against Counter arithmetic with the buyers-
denominator discipline, and the weekend split against day-by-day Python
bucketing with the normalization-reverses-the-raw-ordering observation where
it holds."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r41

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r41))
def test_staged_r41_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r41_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r41))


def test_minmax_python_bounds(spark, duck):
    data = duck.execute(
        "SELECT o_orderkey, o_orderpriority, CAST(sign(o_totalprice) * "
        "floor(abs(o_totalprice) * 100 + 0.5) AS BIGINT) FROM orders"
    ).fetchall()
    per = defaultdict(list)
    for ok, p, c in data:
        per[p].append(c)
    rows = {r.o_orderkey: r for r in staged_r41.fn_minmax_scale(spark, SF_DIR).collect()}
    assert len(rows) == len(data)
    hit0 = hit1 = 0
    for ok, p, c in data:
        lo, hi = min(per[p]), max(per[p])
        r = rows[ok]
        assert (r.lo, r.hi, r.cents) == (lo, hi, c)
        if hi == lo:
            assert r.scaled is None
        else:
            assert abs(r.scaled - (c - lo) / (hi - lo)) < 1e-6
            assert -1e-9 <= r.scaled <= 1 + 1e-9
            if c == lo:
                assert r.scaled == 0.0
                hit0 += 1
            if c == hi:
                assert r.scaled == 1.0
                hit1 += 1
    assert hit0 >= 1 and hit1 >= 1  # the extremes map to exactly 0 and 1


def test_repeat_rate_counter(spark, duck):
    ks = Counter(
        r[0]
        for r in duck.execute(
            "SELECT user_id FROM events WHERE event_type = 'purchase'"
        ).fetchall()
    )
    n_buyers = len(ks)
    n_repeat = sum(1 for k in ks.values() if k >= 2)
    r = staged_r41.event_repeat_rate(spark, SF_DIR).collect()[0]
    assert (r.n_buyers, r.n_repeat) == (n_buyers, n_repeat)
    assert r.n_one_and_done == n_buyers - n_repeat
    assert abs(r.repeat_rate - n_repeat / n_buyers) < 1e-6
    assert abs(r.purchases_per_buyer - sum(ks.values()) / n_buyers) < 1e-6
    # denominator discipline: buyers, not all users
    all_users = duck.execute(
        "SELECT count(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert r.n_buyers <= all_users


def test_weekend_ratio_python_buckets(spark, duck):
    evs = duck.execute(
        "SELECT ((CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
        " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
        "AS BIGINT) % 7) + 7) % 7, "
        "CASE WHEN event_type = 'purchase' THEN CAST(sign(value) * "
        "floor(abs(value) * 100 + 0.5) AS BIGINT) ELSE 0 END FROM events"
    ).fetchall()
    agg = defaultdict(lambda: [0, 0])
    for dow, cents in evs:
        seg = "weekend" if dow in (2, 3) else "weekday"
        agg[seg][0] += 1
        agg[seg][1] += cents
    rows = {r.segment: r for r in staged_r41.event_weekend_ratio(spark, SF_DIR).collect()}
    assert set(rows) == set(agg)
    for seg, (n, cents) in agg.items():
        r = rows[seg]
        days = 2 if seg == "weekend" else 5
        assert (r.n_events, r.rev_cents) == (n, cents)
        assert abs(r.events_per_day_type - n / days) < 1e-6
    # the raw split overstates weekdays ~5:2 even for a flat business —
    # the normalized columns are the comparable pair
    assert rows["weekday"].n_events > rows["weekend"].n_events
