"""Round-20 staged operators (operators/staged_r20.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the Chapman estimate against the closed form and the exact truth count,
Kendall against scipy-free Python pair counting, Neyman allocations against
the budget, Delta's metric axioms, the tar index against the tarfile
module's own member table, and local clustering against networkx-free Python
triangle counting."""

from __future__ import annotations

import math

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r20

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r20))
def test_staged_r20_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r20_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r20))


def test_capture_recapture_bounds(spark, duck):
    """Chapman closed form; each capture is a VERIFIED subset of the
    exact truth, and on this fixture (both funnels recall≈1 on real
    dups) the estimate lands within a factor of 2 of the truth count."""
    r = staged_r20.dedup_capture_recapture(spark, SF_DIR).collect()[0]
    assert r.chapman_est == round(
        (r.n_sim + 1) * (r.n_win + 1) / (r.n_both + 1) - 1, 2
    )
    assert r.n_union == r.n_sim + r.n_win - r.n_both
    assert r.n_both <= min(r.n_sim, r.n_win)
    assert r.chapman_est >= max(r.n_sim, r.n_win) - 1
    import parallel_mapreduce_wordcounting_spark as engine

    truth = duck.execute(
        f"SELECT count(*) FROM ({engine.REGISTRY['dedup_ngram_jaccard'].oracle})"
    ).fetchone()[0]
    assert truth > 0
    # verified captures cannot exceed the truth population (the integer
    # 10|∩|>=3|∪| rule equals the oracle's float >=0.3 on this fixture)
    assert r.n_union <= truth
    assert truth / 2 <= r.chapman_est <= truth * 2


def test_kendall_matches_python_pairs(spark, duck):
    rows = duck.execute(
        "SELECT CAST(((epoch_ns(ts) // 1000) "
        " - ((((epoch_ns(ts) // 1000) % 86400000000) + 86400000000) "
        "    % 86400000000)) // 86400000000 AS BIGINT) AS day, "
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), "
        "sum(CASE WHEN event_type = 'purchase' THEN "
        " CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT) "
        " ELSE 0 END) "
        "FROM events GROUP BY 1 ORDER BY 1"
    ).fetchall()
    conc = disc = tx = ty = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            dx = rows[i][1] - rows[j][1]
            dy = rows[i][2] - rows[j][2]
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
    r = staged_r20.stat_kendall(spark, SF_DIR).collect()[0]
    n0 = len(rows) * (len(rows) - 1) // 2
    assert (r.n_pairs, r.conc, r.disc) == (n0, conc, disc)
    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert abs(r.tau_b - tau) < 1e-6
    assert -1.0 <= r.tau_b <= 1.0


def test_neyman_allocation_accounting(spark):
    rows = staged_r20.sample_neyman(spark, SF_DIR).collect()
    assert rows
    total_alloc = sum(r.alloc_n for r in rows)
    # floor allocation: within |strata| of the budget, never over
    assert staged_r20._NEYMAN_BUDGET - len(rows) <= total_alloc
    assert total_alloc <= staged_r20._NEYMAN_BUDGET
    assert abs(sum(r.weight_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.sigma_chars > 0 and 0.0 < r.weight_share < 1.0
        # alloc proportional to weight share (floor rounding slack)
        assert abs(
            r.alloc_n - staged_r20._NEYMAN_BUDGET * r.weight_share
        ) <= 1.0


def test_burrows_delta_metric_axioms(spark, duck):
    rows = staged_r20.text_burrows_delta(spark, SF_DIR).collect()
    n_sources = duck.execute(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.delta >= 0.0
        assert 1 <= r.n_words <= staged_r20._DELTA_TOP_WORDS
    # all pairs share the same usable word set size
    assert len({r.n_words for r in rows}) == 1


def test_tar_index_matches_tarfile_module(spark):
    """tarfile's own member table must agree with the JVM byte parse."""
    import hashlib
    import os
    import tarfile
    import tempfile

    rows = {
        r.doc_id: r for r in staged_r20.mm_tar_index(spark, SF_DIR).collect()
    }
    assert len(rows) == staged_r20._TAR_N
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_tar_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    with tarfile.open(f"{stage}/shard0.tar") as tf:
        members = tf.getmembers()
        assert len(members) == staged_r20._TAR_N
        for mem in members:
            doc_id = int(mem.name.removesuffix(".txt"))
            r = rows[doc_id]
            assert r.name == mem.name
            assert r.size_bytes == mem.size
            assert r.data_offset == mem.offset_data
            assert r.n_data_blocks == (mem.size + 511) // 512
            assert r.valid_magic


def test_local_clustering_python_triangles(spark, duck):
    """Re-count triangles per node in plain Python over the exact edge
    set and re-derive the per-degree means."""
    import parallel_mapreduce_wordcounting_spark as engine
    from collections import defaultdict

    edges = duck.execute(
        f"SELECT doc_id_a, doc_id_b FROM "
        f"({engine.REGISTRY['dedup_ngram_jaccard'].oracle})"
    ).fetchall()
    adj = defaultdict(set)
    eset = set()
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
        eset.add((min(u, v), max(u, v)))
    per_degree = defaultdict(list)
    for v, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        nbl = sorted(nb)
        t = sum(
            1
            for i in range(len(nbl))
            for j in range(i + 1, len(nbl))
            if (nbl[i], nbl[j]) in eset
        )
        ccq = round(1000000 * 2.0 * t / (d * (d - 1.0)))
        per_degree[d].append(ccq)
    got = {
        r.degree: r
        for r in staged_r20.graph_local_clustering(spark, SF_DIR).collect()
    }
    assert set(got) == set(per_degree)
    for d, ccqs in per_degree.items():
        r = got[d]
        assert r.n_nodes == len(ccqs)
        assert r.mean_cc == round(sum(ccqs) / (1000000.0 * len(ccqs)), 6)
        assert r.n_closed == sum(1 for c in ccqs if c == 1000000)
        assert 0.0 <= r.mean_cc <= 1.0
