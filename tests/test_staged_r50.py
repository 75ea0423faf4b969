"""Round-50 staged operators (operators/staged_r50.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the A/B buckets against a hashlib replay (plus determinism + chi² identity),
the homoglyph census against a Python str.translate replay, the vacuum plan
against a dict replay with the retention boundary, and Mood's chi² against a
from-scratch classification."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r50

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r50))
def test_staged_r50_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r50_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r50))


def _ab_arm(user_id: int) -> str:
    h = int(
        hashlib.md5(f"{staged_r50._AB_SALT}{user_id}".encode()).hexdigest()[:15],
        16,
    )
    return "A" if h % staged_r50._AB_BUCKETS < staged_r50._AB_SPLIT else "B"


def test_ab_assignment_hashlib_replay(spark, duck):
    users = [u for (u,) in duck.execute("SELECT DISTINCT user_id FROM events").fetchall()]
    want = defaultdict(int)
    for u in users:
        want[_ab_arm(u)] += 1
    got = {r.arm: r for r in staged_r50.sample_ab_assignment(spark, SF_DIR).collect()}
    assert {a: r.n for a, r in got.items()} == dict(want)
    nt = len(users)
    chi2 = 0.0
    for a, r in got.items():
        assert r.share == pytest.approx(r.n / nt, abs=5.01e-7)
        contrib = 2.0 * (r.n - nt / 2.0) ** 2 / nt
        assert r.srm_chi2_contrib == pytest.approx(contrib, abs=5.01e-7)
        chi2 += contrib
    # both arms contribute identically under a 50/50 design (|dev| equal)
    vals = [r.srm_chi2_contrib for r in got.values()]
    assert vals[0] == pytest.approx(vals[-1], abs=1e-6)
    assert chi2 >= 0.0


def test_homoglyph_python_replay(spark, duck):
    rows = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    table = str.maketrans(staged_r50._ASCII_TWINS, staged_r50._HOMOGLYPHS)
    back = str.maketrans(staged_r50._HOMOGLYPHS, staged_r50._ASCII_TWINS)
    affected = scrubbed = ok = 0
    for doc_id, text in rows:
        t = text.translate(table) if doc_id % 7 == 0 else text
        n_conf = sum(1 for ch in t if ch in staged_r50._HOMOGLYPHS)
        affected += 1 if n_conf > 0 else 0
        scrubbed += n_conf
        ok += 1 if t.translate(back) == text else 0
    r = staged_r50.text_homoglyph_scrub(spark, SF_DIR).first()
    assert r.n_docs == len(rows)
    assert r.docs_affected == affected
    assert r.chars_scrubbed == scrubbed
    assert r.roundtrip_ok == len(rows)  # scrub restores every document
    # poisoning is real: docs with a/e/o and doc_id % 7 == 0 are affected
    expect_affected = sum(
        1
        for doc_id, text in rows
        if doc_id % 7 == 0 and any(c in text for c in staged_r50._ASCII_TWINS)
    )
    assert affected == expect_affected > 0


def test_vacuum_dict_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000, event_type, count(*), "
        "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    d1 = max(d for d, _, _, _ in rows)
    cut = d1 - staged_r50._VACUUM_RETENTION_DAYS
    r = staged_r50.warehouse_retention_vacuum(spark, SF_DIR).first()
    assert r.n_files == len(rows)
    assert r.files_expired == sum(1 for d, _, _, _ in rows if d < cut)
    assert r.rows_expired == sum(n for d, _, n, _ in rows if d < cut)
    assert r.bytes_expired == sum(b for d, _, _, b in rows if d < cut)
    assert r.oldest_retained_day == min(d for d, _, _, _ in rows if d >= cut)
    total = sum(n for _, _, n, _ in rows)
    assert r.expired_row_frac == pytest.approx(
        r.rows_expired / total, abs=5.01e-7
    )
    # retention sanity: the newest day always survives
    assert r.oldest_retained_day <= d1


def test_mood_median_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000, event_type, count(*) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    vals = sorted(v for _, _, v in rows)
    m = vals[(len(vals) + 1) // 2 - 1]
    grp = defaultdict(lambda: [0, 0])
    for _, t, v in rows:
        grp[t][1] += 1
        if v > m:
            grp[t][0] += 1
    ta = sum(a for a, _ in grp.values())
    tn = sum(n for _, n in grp.values())
    chi2 = sum(
        (a * tn - n * ta) ** 2 / (n * ta * (tn - ta))
        for a, n in grp.values()
    )
    r = staged_r50.stat_mood_median(spark, SF_DIR).first()
    assert (r.k_groups, r.n_obs, r.n_above) == (len(grp), tn, ta)
    assert r.grand_median == m
    assert r.chi2 == pytest.approx(chi2, abs=5.01e-7)
    assert r.chi2 >= 0.0
    # the discrete lower median really splits the multiset: at most half
    # the observations lie strictly above it
    assert ta * 2 <= tn
