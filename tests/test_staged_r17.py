"""Round-17 staged operators (operators/staged_r17.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
npy headers are re-parsed with numpy itself; the winnow-eval recall is
pinned to the theorem's 1.0; perplexity and Heaps checkpoints carry closed-
form consistency checks."""

from __future__ import annotations

import math

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r17

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r17))
def test_staged_r17_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r17_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r17))


def test_npy_headers_reparse_with_numpy(spark):
    """numpy itself must agree with the JVM-side parse: np.load each
    staged file and compare shape/dtype against the operator's output."""
    import numpy as np

    rows = {
        r.doc_id: r for r in staged_r17.mm_npy_meta(spark, SF_DIR).collect()
    }
    import glob
    import hashlib
    import os
    import tempfile

    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_npy_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    files = glob.glob(f"{stage}/*.npy")
    assert len(files) == len(rows) == staged_r17._NPY_N
    for f in files:
        doc_id = int(os.path.basename(f).removesuffix(".npy"))
        arr = np.load(f)
        r = rows[doc_id]
        assert (r.rows_, r.cols_) == arr.shape
        assert r.descr == arr.dtype.str  # '<f4'
        assert not r.fortran_order
        assert r.data_bytes == arr.nbytes
        assert r.valid_magic


def test_winnow_eval_recall_is_the_theorem(duck):
    """Winnowing guarantees every >=7-token shared run yields a shared
    fingerprint, so recall must be EXACTLY 1.0 (and precision <= 1)."""
    n_truth, n_pred, tp, prec, rec = duck.execute(
        staged_r17.DEDUP_EVAL_WINNOW_ORACLE
    ).fetchone()
    assert n_truth > 0 and tp == n_truth
    assert rec == 1.0
    assert prec is not None and 0.0 < prec <= 1.0
    assert n_pred >= n_truth


def test_markov_perplexity_bounds(duck):
    """1 <= perplexity <= |types|, and perplexity = 2^entropy."""
    rows = duck.execute(
        staged_r17.EVENT_MARKOV_PERPLEXITY_ORACLE
    ).fetchall()
    k = len(rows)
    for etype, n, h, ppl in rows:
        assert 0.0 <= h <= math.log2(k) + 1e-9
        assert 1.0 - 1e-9 <= ppl <= k + 1e-6
        assert abs(ppl - 2.0**h) < 1e-4


def test_hoeffding_interval_contains_mean_and_shrinks(duck):
    rows = duck.execute(staged_r17.STAT_HOEFFDING_BOUND_ORACLE).fetchall()
    for src, n, mean, eps, lo, hi in rows:
        assert lo <= mean <= hi
        assert 0.0 <= lo and hi <= 1.0
        assert abs(eps - math.sqrt(math.log(2 / 0.05) / (2 * n))) < 1e-6


def test_heaps_law_monotone_and_final_totals(duck):
    """Within a language both tokens and vocab are nondecreasing across
    checkpoints, and the final checkpoint equals the language's true
    totals."""
    rows = duck.execute(staged_r17.TEXT_HEAPS_LAW_ORACLE).fetchall()
    by_lang: dict[str, list] = {}
    for lang, q, nd, ntok, voc in rows:
        by_lang.setdefault(lang, []).append((q, nd, ntok, voc))
    truth = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            "SELECT lang, count(*), sum(len(string_split(text, ' '))) "
            "FROM documents GROUP BY lang"
        ).fetchall()
    }
    vocab_truth = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT lang, count(DISTINCT word) FROM ("
            "  SELECT lang, unnest(string_split(text, ' ')) AS word "
            "  FROM documents) GROUP BY lang"
        ).fetchall()
    }
    for lang, cps in by_lang.items():
        cps.sort()
        assert [c[0] for c in cps] == [1, 2, 3, 4]
        for a, b in zip(cps, cps[1:]):
            assert a[1] <= b[1] and a[2] <= b[2] and a[3] <= b[3]
        q, nd, ntok, voc = cps[-1]
        assert (nd, ntok) == truth[lang]
        assert voc == vocab_truth[lang]
