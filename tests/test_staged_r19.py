"""Round-19 staged operators (operators/staged_r19.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
Wilson bounds against a plain-Python closed form, HHI against its algebraic
identities, source overlap against Python set arithmetic on one pair,
silhouette totals against the embeddings table, and the funnel against
direct per-document recomputation."""

from __future__ import annotations

import math

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r19

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r19))
def test_staged_r19_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r19_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r19))


def test_wilson_matches_python_closed_form(spark):
    z = 1.96
    rows = staged_r19.stat_wilson_ci(spark, SF_DIR).collect()
    assert sorted(r.variant for r in rows) == [0, 1]
    for r in rows:
        p = r.n_conv / r.n_users
        center = p + z * z / (2 * r.n_users)
        half = z * math.sqrt(
            p * (1 - p) / r.n_users + z * z / (4 * r.n_users**2)
        )
        denom = 1 + z * z / r.n_users
        assert abs(r.wilson_lo - (center - half) / denom) < 1e-6
        assert abs(r.wilson_hi - (center + half) / denom) < 1e-6
        assert 0.0 <= r.wilson_lo <= r.rate <= r.wilson_hi <= 1.0


def test_herfindahl_identities(spark):
    for r in staged_r19.stat_herfindahl(spark, SF_DIR).collect():
        # HHI bounded by [1/n, 1]; effective_n is its reciprocal
        assert 1.0 / r.n_suppliers - 1e-9 <= r.hhi <= 1.0 + 1e-9
        assert 1.0 - 1e-9 <= r.effective_n <= r.n_suppliers + 1e-9
        assert abs(r.hhi * r.effective_n - 1.0) < 1e-4


def test_simpson_bounds(spark):
    rows = staged_r19.text_simpson(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.simpson_d <= 1.0
        # effective vocabulary cannot exceed the observed type count
        assert 1.0 - 1e-9 <= r.inv_simpson <= r.n_types + 1e-6
        assert r.n_types <= r.n_tokens


def test_source_overlap_python_sets(spark, duck):
    rows = staged_r19.text_source_overlap(spark, SF_DIR).collect()
    n_sources = duck.execute(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(rows) == n_sources * (n_sources - 1) // 2
    by_pair = {(r.source_a, r.source_b): r for r in rows}
    # re-derive one pair with Python set arithmetic
    (a, b), r = min(by_pair.items())
    va = {
        w
        for (t,) in duck.execute(
            "SELECT text FROM documents WHERE source = ?", [a]
        ).fetchall()
        for w in t.split(" ")
    }
    vb = {
        w
        for (t,) in duck.execute(
            "SELECT text FROM documents WHERE source = ?", [b]
        ).fetchall()
        for w in t.split(" ")
    }
    assert (r.n_a, r.n_b) == (len(va), len(vb))
    assert r.n_common == len(va & vb)
    assert r.jaccard == round(len(va & vb) / len(va | vb), 6)
    assert r.containment == round(len(va & vb) / min(len(va), len(vb)), 6)
    for r in rows:
        assert 0.0 <= r.jaccard <= r.containment <= 1.0


def test_silhouette_covers_corpus(spark, duck):
    rows = staged_r19.sim_silhouette(spark, SF_DIR).collect()
    n_vecs = duck.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    assert sum(r.n_vecs for r in rows) == n_vecs
    assert 1 <= len(rows) <= 8  # K = 8, empty clusters may drop
    for r in rows:
        # simplified silhouette with a = nearest centroid is in [0, 1]
        assert 0.0 <= r.min_silhouette <= r.mean_silhouette <= 1.0


def test_funnel_accounting(spark, duck):
    rows = sorted(
        staged_r19.pipeline_filter_funnel(spark, SF_DIR).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == staged_r19._FUNNEL_STAGES
    total = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(r.n_docs for r in rows) == total
    remaining = total
    for r in rows:
        if r.stage != "kept":
            remaining -= r.n_docs
        assert r.n_remaining == remaining
        assert r.share == round(r.n_docs / total, 6)
    assert rows[-1].n_remaining == rows[-1].n_docs  # survivors == kept
