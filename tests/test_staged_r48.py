"""Round-48 staged operators (operators/staged_r48.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the ZIP index against a byte-level re-read of the staged archive (EOCD entry
count, local-header magic at every claimed offset), the skew census against
a dict replay plus the cap-dominance invariant, F-max against an exact-
fractions variance replay, and the velocity peaks against a bisect sweep."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r48

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r48))
def test_staged_r48_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r48_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r48))


def test_zip_index_byte_level_reread(spark):
    """The staged archive really has the claimed layout: the EOCD record
    reports exactly the indexed entry count, and a 'PK\\x03\\x04' local
    header signature sits at every claimed header_offset."""
    import os
    import struct
    import tempfile

    got = staged_r48.mm_zip_index(spark, SF_DIR).collect()
    assert len(got) == staged_r48._ZIP_DOC_HI - staged_r48._ZIP_DOC_LO
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_zip_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    blob = open(os.path.join(stage, "shard0.zip"), "rb").read()
    # end-of-central-directory: we write no comment, so it's the last 22 bytes
    eocd = blob[-22:]
    assert eocd[:4] == b"PK\x05\x06"
    n_entries = struct.unpack("<H", eocd[10:12])[0]
    assert n_entries == len(got)
    for r in got:
        assert blob[r.header_offset : r.header_offset + 4] == b"PK\x03\x04"
        nlen = struct.unpack(
            "<H", blob[r.header_offset + 26 : r.header_offset + 28]
        )[0]
        name = blob[
            r.header_offset + 30 : r.header_offset + 30 + nlen
        ].decode()
        assert name == r.name
        assert r.is_stored
        doc_id = int(r.name.split(".")[0])
        assert staged_r48._ZIP_DOC_LO <= doc_id < staged_r48._ZIP_DOC_HI
        payload = blob[
            r.header_offset + 30 + nlen : r.header_offset + 30 + nlen + r.size_bytes
        ]
        assert len(payload) == r.size_bytes


def test_skew_diagnose_dict_replay(spark, duck):
    freqs = Counter(
        dict(
            duck.execute(
                "SELECT user_id, count(*) FROM events GROUP BY user_id"
            ).fetchall()
        )
    )
    est = sum(f * f for f in freqs.values())
    capped = sum(min(f, staged_r48._SKEW_CAP) ** 2 for f in freqs.values())
    mx = max(f * f for f in freqs.values())
    r = staged_r48.join_skew_diagnose(spark, SF_DIR).first()
    assert r.n_keys == len(freqs)
    assert r.sum_f == sum(freqs.values())
    assert r.est_self_join_rows == est
    assert r.est_capped_rows == capped
    assert r.top1_share == pytest.approx(round(mx / est, 6), abs=1e-9)
    assert r.skew_ratio == pytest.approx(
        round(mx * len(freqs) / est, 6), abs=1e-9
    )
    # cap dominance: the capped estimate never exceeds the raw one, and the
    # skew ratio is >= 1 by definition (max >= mean)
    assert r.est_capped_rows <= r.est_self_join_rows
    assert r.skew_ratio >= 1.0


def test_fmax_fractions_replay(spark, duck):
    from fractions import Fraction

    rows = duck.execute(
        "SELECT event_type, CAST(sign(value) * floor(abs(value) * 100 + 0.5)"
        " AS BIGINT) FROM events"
    ).fetchall()
    groups = {}
    for et, c in rows:
        groups.setdefault(et, []).append(c)
    variances = {}
    for et, xs in groups.items():
        n = len(xs)
        if n < 2:
            continue
        sx, sx2 = sum(xs), sum(x * x for x in xs)
        variances[et] = Fraction(n * sx2 - sx * sx, n * (n - 1))
    vmax, vmin = max(variances.values()), min(variances.values())
    r = staged_r48.stat_fmax(spark, SF_DIR).first()
    assert r.k_groups == len(variances)
    assert r.n_min == min(len(groups[et]) for et in variances)
    assert r.n_max == max(len(groups[et]) for et in variances)
    assert r.var_max_usd2 == pytest.approx(float(vmax) / 10000, rel=1e-9)
    assert r.var_min_usd2 == pytest.approx(float(vmin) / 10000, rel=1e-9)
    assert r.fmax == pytest.approx(float(vmax / vmin), abs=2e-6)
    assert r.fmax >= 1.0
    assert r.heteroscedastic == (r.fmax > staged_r48._FMAX_CUTOFF)


def test_velocity_bisect_replay(spark, duck):
    import bisect

    raw = duck.execute(
        "SELECT user_id, epoch_ns(ts) // 1000 FROM events"
    ).fetchall()
    by_user = {}
    for u, us in raw:
        by_user.setdefault(u, []).append(us)
    got = {
        r.user_id: r
        for r in staged_r48.event_velocity_screen(spark, SF_DIR).collect()
    }
    assert set(got) == set(by_user)
    win = staged_r48._VELOCITY_WINDOW_US
    for u, uss in by_user.items():
        uss.sort()
        peak = max(
            i - bisect.bisect_left(uss, t - win) + 1
            for i, t in enumerate(uss)
        )
        r = got[u]
        assert r.n_events == len(uss)
        assert r.peak_hourly == peak
        span = uss[-1] - uss[0]
        if span == 0:
            assert r.mean_rate_per_hour is None and r.velocity_alarm
            continue
        rate = len(uss) * 3_600_000_000 / span
        assert r.mean_rate_per_hour == pytest.approx(rate, abs=5.01e-7)
        assert r.burst_factor == pytest.approx(peak / rate, abs=5.01e-7)
        assert r.velocity_alarm == (
            r.burst_factor > staged_r48._VELOCITY_BURST_ALARM
        )
        assert r.peak_hourly <= r.n_events
