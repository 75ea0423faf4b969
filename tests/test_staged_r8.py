"""Round-8 staged operators (operators/staged_r8.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r8

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r8))
def test_staged_r8_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r8_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r8))


def test_assoc_rules_sanity(spark):
    """Lift algebra: support <= both confidences, and a pair's lift equals
    conf_ante_cons / (n_cons / n_baskets) by construction."""
    from .conftest import SF_DIR

    rows = staged_r8.event_assoc_rules(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.support <= r.conf_ante_cons + 1e-9
        assert r.support <= r.conf_cons_ante + 1e-9
        assert r.ante < r.cons


def test_pit_join_is_bijective_on_probes(spark):
    """Half-open [valid_from, valid_to) versions tile each user's timeline,
    so every probe event matches EXACTLY one dimension version."""
    from pyspark.sql import functions as F

    from .conftest import SF_DIR
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    res = staged_r8.join_pit_scd2(spark, SF_DIR)
    n_probes = (
        load_table(spark, SF_DIR, "events").where(F.col("event_id") % 50 == 0).count()
    )
    assert res.count() == n_probes
    assert res.select("event_id").distinct().count() == n_probes


def test_drift_chi2_total_detects_planted_shift(spark):
    """The summed rounded terms form the scalar chi^2; it must be strictly
    positive on the fixture (click and view value distributions are not
    identical) and each term non-negative."""
    from .conftest import SF_DIR

    rows = staged_r8.agg_drift_chi2(spark, SF_DIR).collect()
    assert rows and all(r.chi2_term >= 0 for r in rows)
    assert sum(r.chi2_term for r in rows) > 0


def test_gini_bounds_and_ordering(spark):
    """0 <= G < 1 for positive-valued orders, and a segment of identical
    values would give G ~ 0 (sanity of the rank formula)."""
    from .conftest import SF_DIR

    rows = staged_r8.agg_gini(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0, r


def test_cohort_ltv_monotone(spark):
    """LTV is a running sum of nonnegative weekly revenue, so it is
    non-decreasing within each cohort and ends at the cohort's total."""
    from .conftest import SF_DIR

    rows = staged_r8.event_cohort_ltv(spark, SF_DIR).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, []).append(r)
    assert by_cohort
    for _, rs in by_cohort.items():
        rs.sort(key=lambda r: r.week)
        for a, b in zip(rs, rs[1:]):
            assert b.ltv >= a.ltv - 1e-9
        assert abs(rs[-1].ltv - sum(r.revenue for r in rs)) < 1e-6


def test_lsh_cosine_recall_and_no_false_positives(spark):
    """dedup_lsh_cosine (rows-only when registered): every emitted pair must
    also be in the exact operator's answer with the identical cosine (exact
    verify = no false positives), and recall vs the exact pair set must
    clear the Charikar-collision floor with margin."""
    import parallel_mapreduce_wordcounting_spark as engine

    from .conftest import SF_DIR

    exact = {
        (r.vec_id_a, r.vec_id_b): r.cosine
        for r in engine.REGISTRY["dedup_embedding"].fn(spark, SF_DIR).collect()
    }
    # fixture truth only exists at tau=0.45 (no real near-dups in the
    # synthetic corpus), which needs the few-bits-per-band config — see the
    # operator docstring's regime table; production defaults target tau=0.9
    got = {
        (r.vec_id_a, r.vec_id_b): r.cosine
        for r in staged_r8.dedup_lsh_cosine(
            spark, SF_DIR, threshold=0.45, n_bits=16, n_bands=8
        ).collect()
    }
    assert exact, "fixture must have pairs above threshold"
    for pair, cos in got.items():
        assert pair in exact and exact[pair] == cos, pair
    recall = len(got) / len(exact)
    assert recall >= 0.8, (len(got), len(exact))


def test_lsh_cosine_deterministic(spark):
    from .conftest import SF_DIR

    a = sorted(map(tuple, staged_r8.dedup_lsh_cosine(
        spark, SF_DIR, threshold=0.45, n_bits=16, n_bands=8).collect()))
    b = sorted(map(tuple, staged_r8.dedup_lsh_cosine(
        spark, SF_DIR, threshold=0.45, n_bits=16, n_bands=8).collect()))
    assert a == b


def test_simhash_pairs_equal_bruteforce(spark):
    """Block-pigeonhole + exact popcount verify must reproduce EXACTLY the
    brute-force hamming<=3 relation over DISTINCT fingerprints (recall 1.0
    is a theorem at d<=3 with 4 blocks, precision 1.0 from the verify),
    with group sizes carried and multi-member groups on the diagonal."""
    from collections import Counter

    from parallel_mapreduce_wordcounting_spark.operators.dedup import dedup_simhash

    from .conftest import SF_DIR

    fps = [r.simhash for r in dedup_simhash(spark, SF_DIR).collect()]
    sizes = Counter(fps)
    uniq = sorted(sizes)
    expect = {}
    for i, fa in enumerate(uniq):
        for fb in uniq[i + 1 :]:
            h = bin(fa ^ fb).count("1")  # 60-bit fps are nonnegative
            if h <= 3:
                expect[(fa, fb)] = (sizes[fa], sizes[fb], h)
    for f, n in sizes.items():
        if n > 1:
            expect[(f, f)] = (n, n, 0)
    got = {
        (r.fp_a, r.fp_b): (r.n_a, r.n_b, r.hamming)
        for r in staged_r8.dedup_simhash_pairs(spark, SF_DIR).collect()
    }
    assert got == expect
    assert any(k[0] == k[1] for k in expect)  # exact-dup groups exist


def test_markov_stationary_is_distribution(spark):
    """After 3 iterations the vector is still (approximately) a probability
    distribution: nonnegative, sums to ~1 (rounding each step perturbs at
    1e-6 per state)."""
    from .conftest import SF_DIR

    rows = staged_r8.event_markov_stationary(spark, SF_DIR).collect()
    assert rows and all(r.pi >= 0 for r in rows)
    assert abs(sum(r.pi for r in rows) - 1.0) < 1e-4


def test_simhash_pairs_rejects_radius_beyond_guarantee(spark):
    """CODE-REVIEW r8: max_hamming > 3 used to silently return incomplete
    candidates (the 4-block pigeonhole only covers distance <= 3) — it
    must refuse instead."""
    with pytest.raises(ValueError, match="pigeonhole"):
        staged_r8.dedup_simhash_pairs(spark, SF_DIR, max_hamming=4)


def test_lsh_rejects_nondivisible_bits_and_survives_empty_table(spark, tmp_path):
    """CODE-REVIEW r8: n_bits not divisible by n_bands silently used fewer
    bits than requested; an empty embeddings table raised TypeError on
    first()[0]. Both now have defined behavior."""
    with pytest.raises(ValueError, match="multiple of n_bands"):
        staged_r8.dedup_lsh_cosine(spark, SF_DIR, n_bits=20, n_bands=8)
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    empty = load_table(spark, SF_DIR, "embeddings").limit(0)
    empty.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = staged_r8.dedup_lsh_cosine(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == ["vec_id_a", "vec_id_b", "cosine"]


def test_binary_files_staging_dir_is_reused(spark):
    """CODE-REVIEW r8: scan_binary_files used to mkdtemp a fresh leaked
    directory per call; the staging dir is now deterministic per sf_dir,
    so consecutive calls reuse one path with exactly the 50 fixture
    files."""
    import hashlib
    import os
    import tempfile

    staged_r8.scan_binary_files(spark, SF_DIR).count()
    staged_r8.scan_binary_files(spark, SF_DIR).count()
    stage = os.path.join(
        tempfile.gettempdir(),
        # mirror the operator's path exactly (it gained the uid component
        # when staging dirs became per-user; the old uid-less literal here
        # went stale and raised FileNotFoundError)
        f"pmrwc_blobs_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    assert len(os.listdir(stage)) == 50
