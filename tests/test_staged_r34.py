"""Round-34 staged operators (operators/staged_r34.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the paired t against statistics-module math (and the t↔Wilcoxon same-sign
sanity), the lag histogram against a per-signup Python scan (with the
shares-sum-to-one identity), the norm check against numpy norms, the nested-
JSON aggregate against re-reading the staged JSONL with the json module, and
the drawdown against a sequential running-peak walk."""

from __future__ import annotations

import json
import math
import statistics
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r34

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r34))
def test_staged_r34_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r34_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r34))


def _user_diffs(duck):
    days = duck.execute(
        "SELECT user_id, CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) "
        "// 1000) % 86400000000) + 86400000000) % 86400000000)) "
        "// 86400000000 AS BIGINT), "
        "CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT) "
        "FROM events WHERE event_type = 'purchase'"
    ).fetchall()
    d0 = min(d for _, d, _ in days)
    per_user = defaultdict(int)
    for u, d, c in days:
        per_user[u] += c if d < d0 + staged_r34._PAIRED_SPLIT_DAYS else -c
    return list(per_user.values())


def test_paired_ttest_statistics_module(spark, duck):
    ds = _user_diffs(duck)
    n = len(ds)
    mean = statistics.fmean(ds)
    sd = statistics.stdev(ds)
    t = mean / (sd / math.sqrt(n))
    r = staged_r34.stat_paired_ttest(spark, SF_DIR).collect()[0]
    assert r.n == n
    assert abs(r.mean_diff - mean / 100.0) < 1e-4
    assert abs(r.t - t) < 1e-3


def test_lag_hist_python_scan(spark, duck):
    rows = duck.execute(
        "SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000 AS BIGINT) "
        "FROM events WHERE event_type IN ('signup', 'purchase')"
    ).fetchall()
    per_user = defaultdict(lambda: ([], []))
    for u, t, us in rows:
        per_user[u][0 if t == "signup" else 1].append(us)
    dts = []
    for sus, pus in per_user.values():
        pus = sorted(pus)
        for s in sus:
            nxt = [p for p in pus if p >= s]
            if nxt:
                dts.append(nxt[0] - s)
    edges = staged_r34._LAG_EDGES_US
    buckets = defaultdict(list)
    for d in dts:
        b = next((i for i, e in enumerate(edges) if d <= e), len(edges))
        buckets[b].append(d)
    got = {
        r.bucket: r
        for r in staged_r34.event_conversion_lag_hist(spark, SF_DIR).collect()
    }
    assert set(got) == set(buckets)
    for b, ds in buckets.items():
        r = got[b]
        assert (r.n_conversions, r.min_lag_us, r.max_lag_us) == (
            len(ds),
            min(ds),
            max(ds),
        )
        assert abs(r.share - len(ds) / len(dts)) < 1e-6
    assert abs(sum(r.share for r in got.values()) - 1.0) < 1e-4


def test_norm_check_numpy(spark, duck):
    import numpy as np

    embs = duck.execute(
        "SELECT label, CAST(embedding AS DOUBLE[]) FROM embeddings"
    ).fetchall()
    per = defaultdict(list)
    for label, v in embs:
        per[label].append(round(float(np.linalg.norm(v)), 6))
    rows = {r.label: r for r in staged_r34.sim_norm_check(spark, SF_DIR).collect()}
    assert set(rows) == set(per)
    for label, norms in per.items():
        r = rows[label]
        assert r.n_vecs == len(norms)
        assert r.min_norm == round(min(norms), 6)
        assert r.max_norm == round(max(norms), 6)
        assert r.n_nonconforming == sum(
            1 for x in norms if abs(x - 1.0) > staged_r34._NORM_TOL
        )
    # the fixture's embeddings are L2-normalized: the check certifies it
    assert all(r.n_nonconforming == 0 for r in rows.values())


def test_json_nested_reread(spark, duck):
    import glob
    import hashlib
    import os
    import tempfile

    rows = {
        r.region_id: r
        for r in staged_r34.scan_json_nested(spark, SF_DIR).collect()
    }
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_nj_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    agg = defaultdict(lambda: [0, set(), 0])
    for path in glob.glob(f"{stage}/*.jsonl"):
        for line in open(path):
            rec = json.loads(line)
            rid = rec["hdr"]["region_id"]
            for li in rec["lines"]:
                agg[rid][0] += 1
                agg[rid][2] += li["qty"]
            agg[rid][1].add(rec["ord"])
    assert set(rows) == set(agg)
    for rid, (nl, ords, qty) in agg.items():
        r = rows[rid]
        assert (r.n_lines, r.n_orders, r.total_qty) == (nl, len(ords), qty)


def test_drawdown_sequential_walk(spark, duck):
    days = sorted(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), CAST(sum(CAST(sign(value) * floor(abs(value) * 100 "
            "+ 0.5) AS BIGINT)) AS BIGINT) FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1"
        ).fetchall()
    )
    cum = peak = 0
    mx = 0
    trough = None
    for day, rev in days:
        cum += rev
        peak = max(peak, cum)
        depth = peak - cum
        if depth > mx or (depth == mx and trough is None):
            mx = depth
            trough = day
    r = staged_r34.event_drawdown(spark, SF_DIR).collect()[0]
    assert r.n_days == len(days)
    assert r.max_drawdown_cents == mx
    assert r.trough_day == trough
    assert r.final_peak_cents == peak
    # all-positive daily revenue => zero drawdown is the healthy outcome;
    # the op reports whichever is true, the test just cross-checks
    if all(rev > 0 for _, rev in days):
        assert mx == 0
