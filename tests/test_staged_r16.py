"""Round-16 staged operators (operators/staged_r16.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent-
derivation guards: the permutation test's extreme-count is re-derived in
plain Python integers, and the DPO margin / component census carry internal-
consistency checks."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r16

from .conftest import assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r16))
def test_staged_r16_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r16_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r16))


def test_dpo_pairs_margin_nonnegative_and_distinct(duck):
    """chosen is ranked best and rejected worst, so margin >= 0 always;
    the DESC-id tiebreak on the worst pick guarantees distinct docs for
    any group of >= 2."""
    rows = duck.execute(staged_r16.PIPELINE_DPO_PAIRS_ORACLE).fetchall()
    n_src = duck.execute(
        "SELECT count(*) FROM (SELECT source FROM documents "
        "GROUP BY source HAVING count(*) >= 2)"
    ).fetchone()[0]
    assert len(rows) == n_src
    for src, cid, rid, cs, rs, margin in rows:
        assert cid != rid
        assert margin >= 0 and abs(margin - round(cs - rs, 6)) < 1e-9


def test_log_odds_symmetry(duck):
    """Swapping the groups negates every z: re-run with the grp CASE
    inverted and assert the top-|z| sets coincide with flipped signs."""
    flipped = staged_r16.STAT_LOG_ODDS_ORACLE.replace(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        "CASE WHEN lang = 'en' THEN 0 ELSE 1 END",
    ).replace(
        "sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS y1, "
        "  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS y2",
        "sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS y1, "
        "  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS y2",
    )
    orig = {
        r[0]: r[3]
        for r in duck.execute(staged_r16.STAT_LOG_ODDS_ORACLE).fetchall()
    }
    flip = {r[0]: r[3] for r in duck.execute(flipped).fetchall()}
    assert set(orig) == set(flip)
    for w in orig:
        assert abs(orig[w] + flip[w]) < 2e-6, (w, orig[w], flip[w])


def test_component_sizes_cover_clustered_docs(duck):
    """The census must partition exactly the docs dedup_cluster labels:
    Σ n_docs over the histogram = |dedup_cluster| rows, and every
    component has >= 2 members (components come from pair edges)."""
    rows = duck.execute(staged_r16.GRAPH_COMPONENT_SIZES_ORACLE).fetchall()
    total = sum(r[2] for r in rows)
    labeled = duck.execute(
        f"SELECT count(*) FROM ({staged_r16._cluster_oracle()})"
    ).fetchone()[0]
    assert total == labeled
    assert all(r[0] >= 2 for r in rows)
    assert all(r[2] == r[0] * r[1] for r in rows)


def test_running_distinct_monotone_and_bounded(duck):
    """Per user the running count is nondecreasing, starts at 1, and ends
    at the user's true distinct-type count."""
    rows = duck.execute(
        f"WITH r AS ({staged_r16.WIN_RUNNING_DISTINCT_ORACLE}) "
        "SELECT user_id, min(distinct_types_so_far), "
        "max(distinct_types_so_far) FROM r GROUP BY user_id"
    ).fetchall()
    truth = dict(
        duck.execute(
            "SELECT user_id, count(DISTINCT event_type) FROM events "
            "GROUP BY user_id"
        ).fetchall()
    )
    for uid, mn, mx in rows:
        assert mn == 1 and mx == truth[uid]


def test_permutation_extreme_count_python_brute_force(duck):
    """Re-derive the extreme count with exact Python integers from the
    same md5 bits DuckDB computes — the p-value must match to the 6-dp
    round."""
    import hashlib

    users = duck.execute(
        "SELECT user_id, coalesce(sum(CASE WHEN event_type = 'purchase' "
        "THEN CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT) "
        "END), 0) FROM events GROUP BY user_id"
    ).fetchall()
    s1 = sum(c for u, c in users if u % 2 == 1)
    n1 = sum(1 for u, _ in users if u % 2 == 1)
    s0 = sum(c for u, c in users if u % 2 == 0)
    n0 = len(users) - n1
    dobs = abs(s1 * n0 - s0 * n1)
    k = 0
    for b in range(1, staged_r16._PERM_B + 1):
        ps1 = pn1 = ps0 = pn0 = 0
        for u, c in users:
            bit = int(hashlib.md5(f"{u}:{b}".encode()).hexdigest()[0], 16) % 2
            if bit:
                ps1 += c
                pn1 += 1
            else:
                ps0 += c
                pn0 += 1
        if pn1 == 0 or pn0 == 0:
            k += 1
        elif abs(ps1 * pn0 - ps0 * pn1) * (n1 * n0) >= dobs * (pn1 * pn0):
            k += 1
    p_expected = round((1 + k) / (staged_r16._PERM_B + 1), 6)
    p = duck.execute(staged_r16.STAT_PERMUTATION_TEST_ORACLE).fetchone()[5]
    assert abs(p - p_expected) < 1e-9
