"""Round-10 additions: the AllPairs/PPJoin prefix filters that make
dedup_ngram_jaccard and sim_sparse_cosine's postings path hub-safe at
scale WITHOUT changing their output (the r9 verdict's two flagged
scale-killers), and the mm_embed float32-exactness guard.

Value parity vs the (unchanged) DuckDB oracles stays covered by
tests/test_oracle_parity.py; these pin the properties the oracle can't
express — that hub postings never enter the pairing join, that the
filter is lossless on adversarial corpora, and that an oversized
payload fails loudly instead of flipping a histogram count."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from parallel_mapreduce_wordcounting_spark.operators import staged_r10
from parallel_mapreduce_wordcounting_spark.operators.dedup import (
    _shingle_id_sets,
    ngram_jaccard_pairs_of,
    prefix_postings,
)

from .conftest import SF_DIR


# --- dedup_ngram_jaccard: prefix filter --------------------------------------


def _sh_frame(spark, sets):
    return spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "doc_id long, shingles array<string>",
    )


def _brute_jaccard(sets, tau):
    out = set()
    for a, b in itertools.combinations(range(len(sets)), 2):
        sa, sb = set(sets[a]), set(sets[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= tau:
            out.add((a, b, round(j, 6)))
    return out


def test_ngram_prefix_excludes_boilerplate_hub(spark):
    """A shingle shared by every document (df = N, the 10⁶-doc boilerplate
    scenario in miniature) is the most frequent token, sorts LAST in every
    document's rarest-first order, and must fall outside every prefix —
    the unfiltered join fanned N·(N−1)/2 candidate pairs through it."""
    n = 30
    sets = [[f"u{i}_{j}" for j in range(7)] + ["HUB"] for i in range(n)]
    sh_ids = _shingle_id_sets(_sh_frame(spark, sets))
    rows = sh_ids.collect()
    # HUB is the one shingle every document shares, and the last in every
    # document's ids (sorted in the prefix order)
    (hub,) = set.intersection(*(set(r.ids) for r in rows))
    assert all(r.ids[-1] == hub for r in rows)
    assert prefix_postings(sh_ids, 0.3).where(F.col("sid") == hub).count() == 0
    # and therefore the join sees zero candidates — the true result (all
    # pairwise J = 1/15 < 0.3) is empty, reached without any fan-out
    assert ngram_jaccard_pairs_of(_sh_frame(spark, sets), 0.3).count() == 0


def test_ngram_prefix_filter_is_lossless(spark):
    """Random corpora over a small pool (heavy overlap, lots of boundary
    pairs): the prefix-filtered result must equal brute force exactly —
    the filter changes cost, never the result set."""
    rng = random.Random(1007)
    pool = [f"s{i}" for i in range(15)]
    for trial in range(3):
        sets = [
            rng.sample(pool, rng.randint(2, 10)) for _ in range(20)
        ]
        got = {
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in ngram_jaccard_pairs_of(_sh_frame(spark, sets), 0.3).collect()
        }
        assert got == _brute_jaccard(sets, 0.3), f"trial {trial}"


def test_ngram_prefix_keeps_true_duplicates(spark):
    """Near-identical documents must still pair even though most of their
    shingles are shared (and thus frequent): J = 1 and boundary J ≈ τ."""
    base = [f"c{i}" for i in range(10)]
    sets = [base, list(base), base[:5] + ["x1", "x2", "x3", "x4", "x5"]]
    got = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in ngram_jaccard_pairs_of(_sh_frame(spark, sets), 0.3).collect()
    }
    assert got == _brute_jaccard(sets, 0.3)
    assert (0, 1, 1.0) in got  # the exact duplicate pair survives


# --- sim_sparse_cosine: suffix-norm prefix filter -----------------------------


def test_sparse_prefix_excludes_hub_word(spark):
    """A near-zero-idf hub word present in every document sorts last and
    carries suffix norm ≪ τ — its postings never enter the pairing join."""
    n = 40
    rows = []
    for i in range(n):
        rows.append((i, f"u{i}", 1.0))  # unique, high weight
        rows.append((i, "hub", 0.05))  # shared, near-zero idf weight
    w = spark.createDataFrame(rows, "doc_id long, word string, w double")
    df_ = spark.createDataFrame(
        [(f"u{i}", 1) for i in range(n)] + [("hub", n)], "word string, df long"
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    kept = staged_r10.sparse_prefix_postings(w, df_, nrm, 0.9)
    assert kept.where(F.col("word") == "hub").count() == 0
    # every unique word survives (suffix norm from position 1 is 1.0)
    assert kept.where(F.col("word") != "hub").count() == n


def test_sparse_postings_path_is_lossless_on_random_corpus(spark, tmp_path):
    """The prefix-filtered postings path must equal the brute-force cosine
    set (and the GEMM path) on a random corpus with true pairs straddling
    the threshold."""
    import math

    rng = random.Random(2024)
    vocab = [f"w{i}" for i in range(12)]
    texts = []
    for i in range(18):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
        texts.append((i, " ".join(words)))
    # two planted exact duplicates (cosine 1.0)
    texts.append((18, texts[0][1]))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r.doc_id_a, r.doc_id_b, r.cosine)
        for r in staged_r10.sim_sparse_cosine(
            spark, sf, strategy="postings"
        ).collect()
    }

    # brute force in python, replicating the tf-idf formula
    n_docs = len(texts)
    toks = {i: t.split(" ") for i, t in texts}
    df_cnt: dict[str, int] = {}
    for i, ws in toks.items():
        for wd in set(ws):
            df_cnt[wd] = df_cnt.get(wd, 0) + 1
    vecs = {}
    for i, ws in toks.items():
        tf: dict[str, int] = {}
        for wd in ws:
            tf[wd] = tf.get(wd, 0) + 1
        v = {
            wd: c * math.log((n_docs + 1.0) / (df_cnt[wd] + 1.0))
            for wd, c in tf.items()
        }
        nv = math.sqrt(sum(x * x for x in v.values()))
        vecs[i] = (v, nv)
    want = set()
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, na = vecs[a]
        vb, nb = vecs[b]
        dot = sum(va[wd] * vb[wd] for wd in va.keys() & vb.keys())
        if na and nb:
            c = round(dot / (na * nb), 6)
            if c >= 0.9:
                want.add((a, b, c))
    assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in want}
    # values match to the shared 6-dp rounding convention (allow the
    # last-digit wobble fp association order can produce)
    gv = {(a, b): c for a, b, c in got}
    for (a, b, c) in want:
        assert abs(gv[(a, b)] - c) <= 2e-6
    assert (0, 18) in gv and gv[(0, 18)] == pytest.approx(1.0)


# --- graph_triangle_stats: adaptive orientation --------------------------------


def test_triangle_stats_oriented_branch_matches_oracle(spark, duck, tmp_path):
    """The round-10 adaptive rule skips the degree orientation on the
    near-regular fixture (wedges ≪ edges), so the orient=True branch needs
    its own end-to-end coverage: a planted 40-doc clique (one shared
    8-token span) has wedges ≈ 38·edges > the ×8 cutoff, trips the
    orientation, and must still match the DuckDB oracle exactly."""
    import duckdb

    from parallel_mapreduce_wordcounting_spark.operators.staged_r9 import (
        _ORIENT_WEDGE_EDGE_FACTOR,
        graph_triangle_stats,
    )

    span = " ".join(f"s{j}" for j in range(8))  # one shared 8-token span
    docs = spark.createDataFrame(
        [(i, f"u{i}a u{i}b {span}") for i in range(40)],
        "doc_id long, text string",
    )
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = [tuple(r) for r in graph_triangle_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        # Spark writes the table as a directory of part files — glob it
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    from parallel_mapreduce_wordcounting_spark.registry import REGISTRY

    want = [tuple(r) for r in con.execute(REGISTRY["graph_triangle_stats"].oracle).fetchall()]
    assert got == want
    # sanity: this corpus really does sit on the orient side of the cutoff
    n_nodes, n_edges, n_wedges, n_tri, _ = got[0]
    assert n_wedges > _ORIENT_WEDGE_EDGE_FACTOR * n_edges
    # a 40-clique: C(40,2) edges, C(40,3) triangles
    assert (n_edges, n_tri) == (780, 9880)


# --- staged round-11 oracles for the last rows-only keys ----------------------
#
# The four remaining rows-only keys were re-projected onto hash-certifiable
# censuses in round 10 (every column DuckDB-recomputable); their oracle
# constants are STAGED here (flip with the r11/r12 verification windows —
# the r10 window is full). These tests run the gate's value comparison now
# so the flip is a decorator-arg change, not a leap (the
# mm_binary_surface/udtf_python round-9 precedent).


def _staged_census_cases():
    from parallel_mapreduce_wordcounting_spark.operators.similarity import (
        SIM_TOPK_BLOCKED_ORACLE,
    )
    from parallel_mapreduce_wordcounting_spark.operators.similarity_ext import (
        SIM_PQ_ORACLE,
    )
    from parallel_mapreduce_wordcounting_spark.operators.staged import (
        AGG_SKETCH_MERGE_ORACLE,
    )
    from parallel_mapreduce_wordcounting_spark.operators.staged_r8 import (
        DEDUP_LSH_COSINE_ORACLE,
    )

    return [
        ("sim_topk_blocked", SIM_TOPK_BLOCKED_ORACLE),
        ("sim_pq", SIM_PQ_ORACLE),
        ("dedup_lsh_cosine", DEDUP_LSH_COSINE_ORACLE),
        ("agg_sketch_merge", AGG_SKETCH_MERGE_ORACLE),
    ]


@pytest.mark.parametrize("case_idx", range(4))
def test_staged_census_oracles_match(spark, duck, case_idx):
    from parallel_mapreduce_wordcounting_spark.registry import REGISTRY

    key, osql = _staged_census_cases()[case_idx]
    sp = sorted(map(tuple, REGISTRY[key].fn(spark, SF_DIR).collect()), key=str)
    oc = sorted(map(tuple, duck.execute(osql).fetchall()), key=str)
    assert sp == oc, (key, sp[:3], oc[:3])


# --- mm_embed: float32-exactness guard ----------------------------------------


def test_mm_embed_oversized_payload_fails_loudly(spark, tmp_path):
    """A payload past the provably-float32-exact reconstruction bound must
    raise a clear error, not risk a silently flipped histogram count that
    would surface as a spurious oracle-hash failure (r9 ADVICE item 1)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from parallel_mapreduce_wordcounting_spark.operators.multimodal import mm_embed

    docs = spark.createDataFrame(
        [(1, "small doc"), (2, "x" * 4_000_100)], "doc_id long, text string"
    )
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(SparkRuntimeException, match="mm_embed"):
        mm_embed(spark, sf).collect()


def test_mm_embed_guard_passes_in_bound_payloads(spark, tmp_path):
    from parallel_mapreduce_wordcounting_spark.operators.multimodal import mm_embed

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "a" * 1000)], "doc_id long, text string"
    )
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    rows = {r.vec_id: r for r in mm_embed(spark, sf).collect()}
    assert rows[1].n_bytes == 11 and rows[2].n_bytes == 1000


def test_no_staged_key_is_shadowed_by_a_registered_twin():
    """Round-10 collision audit, made permanent: every staged DEV_CASES key
    must either be absent from the registry (pure staged inventory) or map
    to the module's OWN fn (a promoted wave). A registered key owned by a
    DIFFERENT function means the promotion block's idempotence guard
    silently skipped the staged op — the win_range_frame/agg_mode class of
    bug (both renamed + held back this round; win_first_last_event was the
    r35 precedent). Also pins that the two renamed keys stay HELD BACK
    until a verification-window slot frees."""
    import parallel_mapreduce_wordcounting_spark as engine
    from parallel_mapreduce_wordcounting_spark.operators import staged_modules

    shadowed = []
    for mod in staged_modules():
        for case in getattr(mod, "DEV_CASES", []):
            key, fn = case[0], case[1]
            spec = engine.REGISTRY.get(key)
            if spec is not None and spec.fn is not fn:
                shadowed.append((mod.__name__, key))
    assert shadowed == []
    # the renames exist as staged cases under their new names
    from parallel_mapreduce_wordcounting_spark.operators import (
        staged_r27,
        staged_r28,
    )

    assert any(c[0] == "win_range_frame_days" for c in staged_r27.DEV_CASES)
    assert any(c[0] == "agg_mode_share" for c in staged_r28.DEV_CASES)
