"""Round-31 staged operators (operators/staged_r31.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the model fits against from-scratch Python MLEs (plus the likelihood-
dominance sanity that the winner's ll is a true max of the three), code
detection against Python character counting, the MP4 walk against struct re-
parsing of the staged bytes, WoW change against a dict lookup 7 days back,
and the intraday profile against Python µs bucketing plus the share-sums-to-
one identity."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r31

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r31))
def test_staged_r31_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r31_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r31))


def test_fit_compare_python_mle(spark, duck):
    xs = [
        float(r[0])
        for r in duck.execute(
            "SELECT o_totalprice FROM orders WHERE o_totalprice > 0"
        ).fetchall()
    ]
    n = len(xs)
    sx = sum(xs)
    slx = sum(math.log(x) for x in xs)
    slx2 = sum(math.log(x) ** 2 for x in xs)
    xm = min(xs)
    lam = n / sx
    mu = slx / n
    v = slx2 / n - mu * mu
    alpha = n / (slx - n * math.log(xm))
    expect = {
        "exponential": (lam, math.log(lam) - 1),
        "lognormal": (mu, -0.5 * math.log(v) - 0.5 * math.log(2 * math.pi) - 0.5 - mu),
        "pareto": (alpha, math.log(alpha) + alpha * math.log(xm) - (alpha + 1) * mu),
    }
    rows = {r.model: r for r in staged_r31.stat_fit_compare(spark, SF_DIR).collect()}
    assert set(rows) == set(expect)
    for model, (param, ll) in expect.items():
        assert abs(rows[model].param - param) < 1e-4 * max(1, abs(param))
        assert abs(rows[model].ll_per_n - ll) < 1e-4
    # the three likelihoods are well-separated relative to float noise
    lls = sorted(r.ll_per_n for r in rows.values())
    assert lls[2] - lls[1] > 1e-3 or lls[1] - lls[0] > 1e-3


def test_code_detect_python_counts(spark, duck):
    docs = duck.execute("SELECT lang, text FROM documents").fetchall()
    symbols = set("{}();=<>[]")
    per = defaultdict(lambda: [0, 0, 0, 0])  # n, codeish, nsym, nc
    for lang, text in docs:
        if not text:
            continue
        nc = len(text)
        nsym = sum(1 for ch in text if ch in symbols)
        ndig = sum(1 for ch in text if ch.isdigit() and ch.isascii())
        p = per[lang]
        p[0] += 1
        p[1] += 1 if (nsym * 50 > nc or ndig * 10 > nc) else 0
        p[2] += nsym
        p[3] += nc
    rows = {r.lang: r for r in staged_r31.text_code_detect(spark, SF_DIR).collect()}
    assert set(rows) == set(per)
    for lang, (nd, ncode, nsym, nc) in per.items():
        r = rows[lang]
        assert (r.n_docs, r.n_codeish) == (nd, ncode)
        assert abs(r.symbol_ratio - nsym / nc) < 1e-6


def test_mp4_struct_reparse(spark, duck):
    import glob
    import hashlib
    import os
    import struct
    import tempfile

    rows = {r.doc_id: r for r in staged_r31.mm_mp4_meta(spark, SF_DIR).collect()}
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_mp4_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    paths = glob.glob(f"{stage}/*.mp4")
    assert len(paths) == len(rows)
    for path in paths:
        doc_id = int(os.path.basename(path).split(".")[0])
        blob = open(path, "rb").read()
        assert blob[4:8] == b"ftyp"
        pos = 0
        ts = dur = None
        for _ in range(8):
            size = struct.unpack(">I", blob[pos : pos + 4])[0]
            btype = blob[pos + 4 : pos + 8]
            if btype == b"moov":
                mv = pos + 8
                assert blob[mv + 4 : mv + 8] == b"mvhd"
                ts, dur = struct.unpack(">II", blob[mv + 20 : mv + 28])
                break
            pos += size
        r = rows[doc_id]
        assert (r.timescale, r.duration_ticks) == (ts, dur)
        assert r.duration_ms == dur * 1000 // ts
        assert r.n_bytes == len(blob)
        assert r.valid_ftyp


def test_wow_change_dict_lookup(spark, duck):
    days = dict(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), CAST(count(*) AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    )
    rows = {r.day: r for r in staged_r31.event_wow_change(spark, SF_DIR).collect()}
    expect = {d for d in days if d - 7 in days}
    # lag-7 by ROW equals day−7 only when the spine is gapless there;
    # the op's guard enforces exactly that
    for day, r in rows.items():
        assert day - 7 in days
        assert (r.cnt, r.prev7) == (days[day], days[day - 7])
        assert r.wow_abs == days[day] - days[day - 7]
        assert abs(r.wow_pct - (days[day] - days[day - 7]) / days[day - 7]) < 1e-6
    # on a gapless fixture the two sets coincide
    if sorted(days) == list(range(min(days), max(days) + 1)):
        assert set(rows) == expect


def test_intraday_python_buckets(spark, duck):
    uss = [
        r[0]
        for r in duck.execute(
            "SELECT CAST(epoch_ns(ts) // 1000 AS BIGINT) FROM events"
        ).fetchall()
    ]
    cnt = defaultdict(int)
    for us in uss:
        rem = us % 86_400_000_000
        day = (us - rem) // 86_400_000_000
        cnt[(day % 7, rem // 3_600_000_000)] += 1
    day_tot = defaultdict(int)
    for (dw, _), c in cnt.items():
        day_tot[dw] += c
    rows = {
        (r.dow, r.hour): r
        for r in staged_r31.event_intraday_profile(spark, SF_DIR).collect()
    }
    assert set(rows) == set(cnt)
    for (dw, hr), c in cnt.items():
        r = rows[(dw, hr)]
        assert (r.cnt, r.day_total) == (c, day_tot[dw])
        assert abs(r.share - c / day_tot[dw]) < 1e-6
    # shares within each dow sum to 1
    per_dow = defaultdict(float)
    for (dw, _), r in rows.items():
        per_dow[dw] += r.share
    for s in per_dow.values():
        assert abs(s - 1.0) < 1e-4
