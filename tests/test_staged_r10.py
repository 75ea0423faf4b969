"""Round-10 staged operators (operators/staged_r10.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r10

from .conftest import (
    SF_DIR,
    assert_nonvacuous,
    compare_frames,
    run_compare,
    wave_keys,
)

W2_KEYS = [
    "text_bpe_train",
    "stat_calibration",
    "graph_degree_stats",
    "mm_wav_meta",
    "event_power_analysis",
]
W3_KEYS = ["text_langid_eval", "dedup_eval_simhash", "scd2_snapshot_diff"]
W1_KEYS = [k for k in wave_keys(staged_r10) if k not in W2_KEYS + W3_KEYS]


@pytest.mark.parametrize("key", W1_KEYS)
def test_staged_r10_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r10_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r10))


def test_auc_equals_pairwise_probability(spark, duck):
    """The rank-sum AUC must equal the defining pairwise probability
    P(score+ > score-) + 0.5 P(score+ = score-), computed by the literal
    quadratic comparison (feasible at fixture scale)."""
    brute = duck.execute(
        "WITH p AS (SELECT value v FROM events WHERE event_type = 'purchase'), "
        "n AS (SELECT value v FROM events WHERE event_type <> 'purchase') "
        "SELECT round(sum(CASE WHEN p.v > n.v THEN 1.0 "
        "WHEN p.v = n.v THEN 0.5 ELSE 0 END) "
        "/ ((SELECT count(*) FROM p) * (SELECT count(*) FROM n)), 6) "
        "FROM p, n"
    ).fetchone()[0]
    (row,) = staged_r10.stat_auc(spark, SF_DIR).collect()
    assert row.auc == pytest.approx(brute, abs=1e-6)
    assert 0.0 <= row.auc <= 1.0


def test_psi_symmetric_under_population_swap(spark):
    """Each shared-bucket PSI term (p−q)·ln(p/q) is invariant under p↔q, so
    swapping the populations must preserve psi and swap the exclusive
    masses — a structural check on the decomposition."""
    (ab,) = staged_r10.stat_psi(spark, SF_DIR, "click", "view").collect()
    (ba,) = staged_r10.stat_psi(spark, SF_DIR, "view", "click").collect()
    assert ab.psi == ba.psi and ab.n_shared == ba.n_shared
    assert (ab.a_excl_mass, ab.b_excl_mass) == (ba.b_excl_mass, ba.a_excl_mass)


def test_survival_is_monotone_nonincreasing(spark):
    """S is a product of factors in (0,1]: it must start ≤ 1 and never
    increase with duration, and n_risk must be nonincreasing too."""
    rows = sorted(
        staged_r10.event_survival(spark, SF_DIR).collect(),
        key=lambda r: r.duration_hours,
    )
    assert rows
    prev_s, prev_risk = 1.0 + 1e-9, float("inf")
    for r in rows:
        assert r.survival <= prev_s + 1e-9
        assert r.n_risk <= prev_risk
        assert 0.0 <= r.survival <= 1.0
        prev_s, prev_risk = r.survival, r.n_risk


def test_sparse_cosine_matches_python_recompute(spark):
    """One returned pair's cosine vs a literal python tf-idf recompute —
    anchors the formula (weights, idf smoothing, normalization), not just
    engine parity."""
    import math
    from collections import Counter

    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    pairs = staged_r10.sim_sparse_cosine(spark, SF_DIR).collect()
    assert pairs
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    n = len(docs)
    df = Counter()
    for toks in docs.values():
        df.update(set(toks))
    p = min(pairs, key=lambda r: (r.doc_id_a, r.doc_id_b))

    def vec(doc_id):
        tf = Counter(docs[doc_id])
        return {t: c * math.log((n + 1.0) / (df[t] + 1.0)) for t, c in tf.items()}

    va, vb = vec(p.doc_id_a), vec(p.doc_id_b)
    dot = sum(w * vb.get(t, 0.0) for t, w in va.items())
    na = math.sqrt(sum(w * w for w in va.values()))
    nb = math.sqrt(sum(w * w for w in vb.values()))
    assert p.cosine == pytest.approx(dot / (na / 1.0 * nb), abs=1e-6)
    assert all(r.cosine >= staged_r10._SPARSE_TAU for r in pairs)


def test_sparse_cosine_paths_agree(spark):
    """The postings join and the densified block-GEMM must emit the SAME
    pair set with the same 6-dp cosines — the invariant that makes the
    auto strategy a pure performance choice (167 s → 2.7 s at sf0.1 on
    this dense-vocabulary fixture), never a semantic one."""
    g = sorted(
        tuple(r)
        for r in staged_r10.sim_sparse_cosine(spark, SF_DIR, strategy="gemm").collect()
    )
    p = sorted(
        tuple(r)
        for r in staged_r10.sim_sparse_cosine(
            spark, SF_DIR, strategy="postings"
        ).collect()
    )
    assert g == p and g


def test_novelty_totals_are_consistent(spark, duck):
    """Σ_docs n_novel must equal the number of df=1 grams in the corpus
    (each novel gram belongs to exactly one doc)."""
    rows = staged_r10.text_ngram_novelty(spark, SF_DIR).collect()
    total_novel = sum(r.n_novel for r in rows)
    singles = duck.execute(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS h "
        "FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS g(i)) "
        "SELECT count(*) FROM (SELECT h FROM sh GROUP BY h HAVING count(*) = 1)"
    ).fetchone()[0]
    assert total_novel == singles
    assert all(0 <= r.n_novel <= r.n_grams for r in rows)
    assert all(0.0 <= r.novelty <= 1.0 for r in rows)


def test_cuped_rho2_bounds_and_replay(spark):
    """ρ² is a squared correlation (0 ≤ ρ² ≤ 1) and the whole read-out is
    deterministic (hash-free, so trivially replayable)."""
    (a,) = staged_r10.event_ab_cuped(spark, SF_DIR).collect()
    (b,) = staged_r10.event_ab_cuped(spark, SF_DIR).collect()
    assert a == b
    assert 0.0 <= a.rho2 <= 1.0
    assert a.n_control > 0 and a.n_treat > 0


def test_bootstrap_ci_straddles_point_estimate(spark):
    """The 95% Poisson-bootstrap interval must contain the point mean on
    this well-behaved fixture, be properly ordered, and replay bit-equal
    (hash-derived multiplicities, no RNG state)."""
    (a,) = staged_r10.stat_bootstrap_ci(spark, SF_DIR).collect()
    (b,) = staged_r10.stat_bootstrap_ci(spark, SF_DIR).collect()
    assert a == b
    assert a.ci_lo <= a.mean <= a.ci_hi
    assert a.ci_lo < a.ci_hi
    assert a.n_replicates == 32


def test_file_stats_one_file_per_partition(spark):
    """repartition-by-key before partitionBy must yield exactly one file
    per partition directory — the deterministic-layout invariant the
    oracle's n_files=1 literal encodes."""
    rows = staged_r10.scan_file_stats(spark, SF_DIR).collect()
    assert len(rows) == 3  # o_orderstatus ∈ {F, O, P}
    assert all(r.n_files == 1 for r in rows)


def test_png_meta_parses_handcrafted_header(spark):
    """The byte-slice parser must recover exactly the width/height/depth
    encoded by the stager, and flag the signature valid on every blob."""
    import struct

    rows = staged_r10.mm_png_meta(spark, SF_DIR).collect()
    assert len(rows) == 40
    assert all(r.valid_sig for r in rows)
    assert all(r.bit_depth == 8 for r in rows)
    # independent re-derivation of one blob's header from raw bytes
    r0 = min(rows, key=lambda r: r.doc_id)
    import glob
    import hashlib
    import os
    import tempfile

    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_png_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    raw = open(f"{stage}/{r0.doc_id}.png", "rb").read()
    w, h = struct.unpack(">II", raw[16:24])
    assert (r0.width, r0.height) == (w, h)


def test_readability_internal_identity(spark):
    """flesch_proxy must equal the affine map of syll_per_word the docstring
    states (rounded the same way), and rates must be in [0,1]."""
    rows = staged_r10.text_readability(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.flesch_proxy == pytest.approx(
            206.835 - 84.6 * (r.n_syllables / r.n_words), abs=1e-4
        )
        assert 0.0 <= r.long_word_rate <= 1.0
        assert r.syll_per_word > 0


# --- wave 2 --------------------------------------------------------------------


@pytest.mark.parametrize("key", W2_KEYS)
def test_staged_r10_w2_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_bpe_golden_merges(spark):
    """Pinned first two greedy merges on the deterministic corpus: 'e'+'r'
    (4650 weighted occurrences) then 'o'+'r' — catches any silent change to
    pair weighting, the argmax tiebreak, or the merge fold."""
    rows = [tuple(r) for r in staged_r10.text_bpe_train(spark, SF_DIR).collect()]
    assert rows == [(1, "e", "r", 4650, 25), (2, "o", "r", 2880, 26)]


def test_bpe_merge_fold_nonoverlapping(spark):
    """The fold must merge left-to-right without overlap: 'a a a' with
    merge (a,a) gives ['aa','a'], and text abutting a neighboring symbol
    must NOT fuse ('za b' has no (a,b) pair at symbol level)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(["a", "a", "a"],), (["za", "b"],)], "syms array<string>")
    merged = df.select(
        F.expr(
            "aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]), "
            "(acc, x) -> IF(element_at(acc, -1) = 'a' AND x = 'a', "
            "concat(slice(acc, 1, size(acc) - 1), array('aa')), "
            "concat(acc, array(x))))"
        ).alias("m")
    ).collect()
    assert [r.m for r in merged] == [["aa", "a"], ["za", "b"]]


def test_calibration_partitions_all_events(spark, duck):
    """Bins tile the corpus: counts sum to the event total, rates bounded,
    bin ids inside [0, K)."""
    rows = staged_r10.stat_calibration(spark, SF_DIR).collect()
    total = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert sum(r.n for r in rows) == total
    assert all(0 <= r.bin < 10 for r in rows)
    assert all(0.0 <= r.pos_rate <= 1.0 for r in rows)


def test_degree_stats_identities(spark):
    """mean_degree must equal 2·edges/nodes (every edge contributes two
    degree ends) and assortativity is a correlation in [-1, 1]."""
    (r,) = staged_r10.graph_degree_stats(spark, SF_DIR).collect()
    assert r.mean_degree == pytest.approx(2.0 * r.n_edges / r.n_nodes, abs=1e-6)
    assert -1.0 - 1e-9 <= r.assortativity <= 1.0 + 1e-9
    assert 1 <= r.max_degree < r.n_nodes


def test_wav_meta_matches_source_table(spark):
    """n_samples must round-trip n_chars exactly through the staged LE
    header, and every blob must carry a valid RIFF/WAVE signature."""
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    rows = {r.doc_id: r for r in staged_r10.mm_wav_meta(spark, SF_DIR).collect()}
    src = {
        r.doc_id: r.n_chars
        for r in load_table(spark, SF_DIR, "documents")
        .where("doc_id >= 40 AND doc_id < 80")
        .collect()
    }
    assert set(rows) == set(src) and len(rows) == 40
    for doc_id, r in rows.items():
        assert r.n_samples == src[doc_id]
        assert r.valid_riff and r.bits_per_sample == 16


def test_power_analysis_formula_identity(spark):
    """n_required must equal ceil(2·sigma²·(z_a+z_b)²/delta²) recomputed
    from the op's own reported variance and diff (rounding slack only)."""
    import math

    (r,) = staged_r10.event_power_analysis(spark, SF_DIR).collect()
    k = (staged_r10._Z_ALPHA2 + staged_r10._Z_BETA) ** 2
    approx = 2.0 * r.variance * k / (r.observed_diff**2)
    # reported values are 6-dp rounds of the internal doubles, so allow
    # the derived n to differ by the propagated rounding slack
    assert r.n_required_per_arm == pytest.approx(math.ceil(approx), rel=1e-3)
    assert r.n_required_per_arm > 0


# --- wave 3 --------------------------------------------------------------------


@pytest.mark.parametrize("key", W3_KEYS)
def test_staged_r10_w3_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_langid_eval_cells_sum_to_corpus(spark, duck):
    """Confusion cells must partition the corpus and accuracy must equal
    the sum of the correct cells' fractions."""
    rows = staged_r10.text_langid_eval(spark, SF_DIR).collect()
    total = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(r.n for r in rows) == total
    acc = sum(
        r.n for r in rows if (r.lang == "en") == (r.lang_guess == "en_like")
    ) / total
    assert rows[0].overall_accuracy == pytest.approx(acc, abs=1e-6)


def test_dedup_eval_confusion_identities(spark):
    """tp <= both sides, and precision/recall must equal tp over the
    respective totals."""
    (r,) = staged_r10.dedup_eval_simhash(spark, SF_DIR).collect()
    assert r.tp <= min(r.n_truth, r.n_pred)
    assert r.precision_r == pytest.approx(r.tp / r.n_pred, abs=1e-6)
    assert r.recall_r == pytest.approx(r.tp / r.n_truth, abs=1e-6)


def test_scd2_diff_no_change_rows_filtered(spark):
    """Every emitted row must represent a real difference, with
    change_type consistent with the null pattern."""
    rows = staged_r10.scd2_snapshot_diff(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.change_type == "added":
            assert r.state_t1 is None and r.state_t2 is not None
        elif r.change_type == "removed":
            assert r.state_t1 is not None and r.state_t2 is None
        else:
            assert r.state_t1 is not None and r.state_t2 is not None
            assert r.state_t1 != r.state_t2


def test_dedup_report_oracle_parity(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.staged_r10 import (
        PIPELINE_DEDUP_REPORT_ORACLE,
        pipeline_dedup_report,
    )

    res = duck.execute(PIPELINE_DEDUP_REPORT_ORACLE)
    cols = [d[0] for d in res.description]
    compare_frames(pipeline_dedup_report(spark, SF_DIR), res.fetchall(), cols)


def test_dedup_report_consistent_with_detectors(spark):
    """Each report column must equal the corresponding registered
    detector's own row count — the report can't drift from the ops."""
    import parallel_mapreduce_wordcounting_spark as engine

    (r,) = staged_r10.pipeline_dedup_report(spark, SF_DIR).collect()
    assert r.n_jaccard_pairs == engine.REGISTRY["dedup_ngram_jaccard"].fn(
        spark, SF_DIR
    ).count()
    assert r.n_simhash_pairs == engine.REGISTRY["dedup_simhash_pairs"].fn(
        spark, SF_DIR
    ).count()
    assert r.n_dup_spans == engine.REGISTRY["dedup_spans"].fn(spark, SF_DIR).count()


def test_mmr_oracle_parity(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.staged_r10 import (
        SIM_MMR_DIVERSIFY_ORACLE,
        sim_mmr_diversify,
    )

    res = duck.execute(SIM_MMR_DIVERSIFY_ORACLE)
    cols = [d[0] for d in res.description]
    compare_frames(sim_mmr_diversify(spark, SF_DIR), res.fetchall(), cols)


def test_mmr_diversifies_relative_to_plain_topk(spark):
    """Structural MMR properties: rank 1 is the pure relevance argmax, all
    picks are distinct, and the diversified set is no MORE self-similar
    than plain top-k (usually strictly less — that's the point)."""
    import numpy as np

    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    rows = sorted(
        staged_r10.sim_mmr_diversify(spark, SF_DIR).collect(), key=lambda r: r.rank
    )
    assert len(rows) == 5 and len({r.vec_id for r in rows}) == 5
    assert rows[0].rel == max(r.rel for r in rows)  # rank 1 = max relevance

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    q = emb[0]
    pool = sorted(
        ((float(np.dot(q, v)), -vid) for vid, v in emb.items() if vid != 0),
        reverse=True,
    )[:5]
    topk_ids = [-p[1] for p in pool]

    def mean_pair_sim(ids):
        sims = [
            float(np.dot(emb[a], emb[b]))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
        ]
        return sum(sims) / len(sims)

    assert mean_pair_sim([r.vec_id for r in rows]) <= mean_pair_sim(topk_ids) + 1e-9
