"""Round-14 pins (optimization round 2): the Jaccard engine's prefix-order
dictionary + Arrow verify kernel must be output-identical to a string-array
verify (the r13 ADVICE consistency item), its pair-level positional bound
must keep every pair at the threshold, its and the containment engine's
construct-time job counts must stay within budget, the verify kernel's
exact intersection counts, and the MaxSim kernel's bounded-memory
chunking (the r13 ADVICE memory item) must be score-identical to the
unchunked fold."""

from __future__ import annotations

import itertools
import math
import random
from collections import defaultdict
from fractions import Fraction

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parallel_mapreduce_wordcounting_spark.operators import staged_r46
from parallel_mapreduce_wordcounting_spark.operators.dedup import (
    _pair_intersect_counts,
    _shingle_id_sets,
    dedup_containment,
    dedup_ngram_jaccard,
    ngram_jaccard_pairs_of,
)

from .conftest import SF_DIR


def _sh_frame(spark, sets):
    return spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "doc_id long, shingles array<string>",
    )


# --- Jaccard engine: dictionary verify ≡ string-array verify -----------------


def _string_verify_pairs(spark, sets, tau):
    """Reference: brute-force all-pairs with the verify on STRING arrays —
    the pre-r13 medium. Any divergence from the dictionary/Arrow engine
    means the dictionary stopped being a bijection or the kernel
    mis-counted."""
    sh = _sh_frame(spark, sets)
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sb"))
    return {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in (
            a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
            .withColumn("c", F.size(F.array_intersect("sa", "sb")))
            .withColumn(
                "jaccard_raw",
                F.col("c").cast("double")
                / (F.size("sa") + F.size("sb") - F.col("c")),
            )
            .where(F.col("jaccard_raw") >= tau)
            .select(
                "doc_id_a", "doc_id_b", F.round("jaccard_raw", 6).alias("jaccard")
            )
            .collect()
        )
    }


def test_jaccard_dictionary_verify_matches_string_verify(spark):
    """Planted corpus with heavy overlap and boundary-τ pairs: the
    dense-dictionary + Arrow-kernel engine must return EXACTLY the
    string-array verify's pair set (values included)."""
    rng = random.Random(1404)
    pool = [f"tok{i}" for i in range(40)]
    sets = [rng.sample(pool, rng.randint(3, 12)) for _ in range(25)]
    sets += [sets[0][:], sets[1][:6] + ["zz1", "zz2"]]  # exact dup + near-dup
    got = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in ngram_jaccard_pairs_of(_sh_frame(spark, sets), 0.3).collect()
    }
    assert got == _string_verify_pairs(spark, sets, 0.3)


def _overlap_needed(tau, na, nb):
    """Least |A∩B| with J ≥ τ: ⌈τ/(1+τ)·(na+nb)⌉, in exact arithmetic."""
    t = Fraction(str(tau))
    return math.ceil(t / (1 + t) * (na + nb))


def _planted_bound_corpus(seed, tau):
    """Random background sets plus planted pairs AT the threshold: (a)
    containment pairs |small| = ⌈τ·|big|⌉, whose positional bound is tight
    in ANY token order (every shared shingle after the last prefix match
    lies in the subset's suffix), planted subset-first and superset-first
    so each side's term of ``least(na−1−ia, nb−1−ib)`` is the binding one;
    (b) pairs sharing exactly ⌈τ/(1+τ)·(na+nb)⌉ shingles. Returns the sets
    and the planted pairs (doc index pairs, lower index first)."""
    rng = random.Random(seed)
    pool = [f"t{i}" for i in range(60)]
    sets = [rng.sample(pool, rng.randint(4, 14)) for _ in range(15)]
    planted = []
    for k in range(6):
        nbig = rng.randint(5, 16)
        nsmall = math.ceil(Fraction(str(tau)) * nbig)
        big = rng.sample(pool, nbig)
        small = rng.sample(big, nsmall)
        pair = [small, big] if k % 2 == 0 else [big, small]
        planted.append((len(sets), len(sets) + 1))
        sets += pair
    for k in range(4):
        na, nb = rng.randint(4, 14), rng.randint(4, 14)
        o = _overlap_needed(tau, na, nb)
        if o > min(na, nb):
            continue
        shared = rng.sample(pool, o)
        own = [f"p{seed}_{k}_{i}" for i in range(na + nb - 2 * o)]
        planted.append((len(sets), len(sets) + 1))
        sets += [shared + own[: na - o], shared + own[na - o :]]
    return sets, planted


@pytest.mark.parametrize("seed", [11, 12, 13])
@pytest.mark.parametrize("tau", [0.3, 0.5, 0.8])
def test_jaccard_positional_bound_keeps_threshold_pairs(spark, tau, seed):
    """The pair-level positional bound prunes only pairs that cannot reach
    τ: on corpora whose planted pairs sit exactly at the overlap threshold
    (and at a tight bound), the engine returns the brute-force pair set."""
    sets, planted = _planted_bound_corpus(seed, tau)
    for i, j in planted:
        a, b = set(sets[i]), set(sets[j])
        need = _overlap_needed(tau, len(a), len(b))
        assert len(a & b) == need, "planted pair must sit at the threshold"
    want = _string_verify_pairs(spark, sets, tau)
    assert {(i, j) for i, j, _ in want} >= set(planted)
    got = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in ngram_jaccard_pairs_of(_sh_frame(spark, sets), tau).collect()
    }
    assert got == want


def _construct_jobs(spark, fn) -> int:
    """Spark jobs fired while ``fn(spark, SF_DIR)`` builds its DataFrame."""
    sc = spark.sparkContext
    group = f"test-construct-{fn.__name__}"
    sc.setJobGroup(group, f"{fn.__name__} construct")
    try:
        fn(spark, SF_DIR)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ngram_jaccard_construct_job_budget(spark):
    """Spark jobs fired while ``dedup_ngram_jaccard`` builds its DataFrame
    (the shingle pin and the id-set pin, with the shuffle stages and the
    dictionary sort's range sampling they run) stay within 8, so a
    re-added pin or driver round trip fails here."""
    jobs = _construct_jobs(spark, dedup_ngram_jaccard)
    assert 0 < jobs <= 8, jobs


def test_containment_construct_job_budget(spark):
    """Spark jobs fired while ``dedup_containment`` builds its DataFrame
    (the shingle pin and the id-set pin it shares with the Jaccard
    engine, with their shuffle stages and range sampling) stay within 8."""
    jobs = _construct_jobs(spark, dedup_containment)
    assert 0 < jobs <= 8, jobs


def test_shingle_id_sets_dense_sorted_int(spark):
    """The dictionary contract: ``ids`` is the only array (bigint, no
    ``order`` column), each document's array is sorted and unique (the
    Arrow kernel's precondition), sid ↔ shingle is a bijection, and the
    sid IS the prefix order — all sids ascending name the shingles sorted
    by (df ASC, shingle ASC)."""
    sets = [[f"s{i}", f"s{i+1}", f"s{i+2}"] for i in range(20)]
    ids = _shingle_id_sets(_sh_frame(spark, sets))
    assert dict(ids.dtypes)["ids"] == "array<bigint>"
    assert "order" not in ids.columns
    rows = ids.collect()
    for r in rows:
        assert list(r.ids) == sorted(set(r.ids)), "ids must be sorted+unique"
    # each shingle here has its own doc set, which names the shingle
    # behind every sid; df is counted on the input sets
    docs_of_sid, docs_of_shingle = defaultdict(set), defaultdict(set)
    for r in rows:
        for i in r.ids:
            docs_of_sid[i].add(r.doc_id)
    for d, ss in enumerate(sets):
        for s in ss:
            docs_of_shingle[s].add(d)
    shingle_of = {frozenset(d): s for s, d in docs_of_shingle.items()}
    vocab = len(docs_of_shingle)
    assert len(shingle_of) == vocab
    name = {i: shingle_of[frozenset(d)] for i, d in docs_of_sid.items()}
    assert len(name) == len(set(name.values())) == vocab, "sid ↔ shingle bijection"
    for r in rows:
        assert sorted(name[i] for i in r.ids) == sorted(sets[r.doc_id])
    df = {s: len(d) for s, d in docs_of_shingle.items()}
    assert [name[i] for i in sorted(name)] == sorted(df, key=lambda s: (df[s], s))


# --- Arrow verify kernel: exact intersection counts --------------------------


def _kernel_batch(pairs, id_type=pa.int32()):
    """pairs: list of (ida, idb, sa, sb) with sa/sb sorted int lists."""
    return pa.record_batch(
        [
            pa.array([p[0] for p in pairs], pa.int64()),
            pa.array([p[1] for p in pairs], pa.int64()),
            pa.array([p[2] for p in pairs], pa.list_(id_type)),
            pa.array([p[3] for p in pairs], pa.list_(id_type)),
        ],
        names=["doc_id_a", "doc_id_b", "sa", "sb"],
    )


def test_pair_intersect_counts_exact():
    """Exact |A∩B| per pair, on small int32 ids and on int64 ids at and
    above 2³³ — the (partition ≪ 33) + offset sids the dictionary emits."""
    rng = random.Random(7)
    wide = [(p << 33) + o for p in range(1, 9) for o in range(25)]
    for pool, id_type in [(range(200), pa.int32()), (wide, pa.int64())]:
        pairs = []
        for i in range(50):
            sa = sorted(rng.sample(pool, rng.randint(1, 30)))
            sb = sorted(rng.sample(pool, rng.randint(1, 30)))
            pairs.append((i, 1000 + i, sa, sb))
        batch = _kernel_batch(pairs, id_type)
        (out,) = list(_pair_intersect_counts(iter([batch])))
        got = list(
            zip(
                out.column("doc_id_a").to_pylist(),
                out.column("na").to_pylist(),
                out.column("nb").to_pylist(),
                out.column("c").to_pylist(),
            )
        )
        assert len(got) == len(pairs)
        for (ida, idb, sa, sb), (gida, na, nb, c) in zip(pairs, got):
            assert gida == ida
            assert (na, nb) == (len(sa), len(sb))
            assert c == len(set(sa) & set(sb))


def test_pair_intersect_counts_rejects_empty_set():
    """The fail-loud guard: an empty shingle set must raise, not
    mis-count (r13 ADVICE: silent empty-segment hazards)."""
    batch = _kernel_batch([(0, 1, [], [1, 2])])
    with pytest.raises(AssertionError, match="empty shingle set"):
        list(_pair_intersect_counts(iter([batch])))


# --- MaxSim kernel: bounded-memory chunking is score-identical ---------------


def _maxsim_batch(rng, n_docs, max_toks):
    qh = sorted(rng.sample(range(65536), 17))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "hs": [
                sorted(rng.sample(range(65536), rng.randint(1, max_toks)))
                for _ in range(n_docs)
            ],
            "qid": np.zeros(n_docs, dtype=np.int64),
            "qh": [qh] * n_docs,
        }
    )


def test_maxsim_kernel_chunking_is_score_identical(monkeypatch):
    """Shrinking the block bound so every group needs many chunks must not
    change a single score — chunk cuts land on document boundaries."""
    rng = random.Random(99)
    pdf = _maxsim_batch(rng, n_docs=60, max_toks=40)
    (ref,) = list(staged_r46._maxsim_kernel(iter([pdf])))
    monkeypatch.setattr(staged_r46, "_MAXSIM_BLOCK_BYTES", 64)  # forces chunks
    (tiny,) = list(staged_r46._maxsim_kernel(iter([pdf])))
    pd.testing.assert_frame_equal(ref, tiny)


def test_maxsim_kernel_rejects_empty_token_set():
    rng = random.Random(3)
    pdf = _maxsim_batch(rng, n_docs=4, max_toks=5)
    pdf.at[2, "hs"] = []
    with pytest.raises(AssertionError, match="empty token set"):
        list(staged_r46._maxsim_kernel(iter([pdf])))
