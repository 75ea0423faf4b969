"""Round-15 staged operators (operators/staged_r15.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent-
derivation guards: Fisher and McNemar tails are re-derived with exact
``math.comb`` rationals in plain Python, and the winnowing coverage
guarantee is checked as a theorem against an exhaustive 7-token-run scan."""

from __future__ import annotations

import math
from fractions import Fraction

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r15

from .conftest import assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r15))
def test_staged_r15_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r15_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r15))


def test_fisher_matches_exact_comb_brute_force(duck):
    """The hypergeometric upper tail re-derived with exact rationals:
    p = Σ_{k=a}^{min(K,n_t)} C(K,k)·C(N−K,n_t−k)/C(N,n_t) via math.comb
    — no log-space, no floats until the final division."""
    a, b, c, d, orr, p = duck.execute(
        staged_r15.STAT_FISHER_EXACT_ORACLE
    ).fetchone()
    n, kk, nt = a + b + c + d, a + c, a + b
    tail = Fraction(0)
    for k in range(a, min(kk, nt) + 1):
        tail += Fraction(
            math.comb(kk, k) * math.comb(n - kk, nt - k), math.comb(n, nt)
        )
    assert abs(float(tail) - p) < 5e-7
    assert 0.0 < p <= 1.0


def test_mcnemar_matches_exact_comb_brute_force(duck):
    """Two-sided exact binomial: p = min(1, 2·Σ_{k≤min(b,c)} C(n,k)/2^n)
    with exact rationals."""
    a, b, c, d, chi2, p = duck.execute(
        staged_r15.STAT_MCNEMAR_ORACLE
    ).fetchone()
    nd = b + c
    tail = sum(Fraction(math.comb(nd, k), 2**nd) for k in range(min(b, c) + 1))
    assert abs(min(1.0, 2.0 * float(tail)) - p) < 5e-7
    assert abs(chi2 - (b - c) ** 2 / nd) < 1e-6


def test_kappa_brute_force_and_bounds(duck):
    a, b, c, d, po, pe, kappa = duck.execute(
        staged_r15.STAT_COHENS_KAPPA_ORACLE
    ).fetchone()
    n = a + b + c + d
    po_ref = (a + d) / n
    pe_ref = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
    assert abs(po - po_ref) < 1e-6 and abs(pe - pe_ref) < 1e-6
    assert abs(kappa - (po_ref - pe_ref) / (1 - pe_ref)) < 1e-5
    assert -1.0 <= kappa <= 1.0


def test_retrieval_metrics_bounds(duck):
    rows = duck.execute(staged_r15.SIM_RETRIEVAL_EVAL_ORACLE).fetchall()
    assert len(rows) == staged_r15._REV_PROBES
    for qid, n_rel, rel_at_k, p, r, mrr, ndcg in rows:
        assert 0 <= rel_at_k <= staged_r15._REV_K
        assert 0.0 <= p <= 1.0 and 0.0 <= r <= 1.0
        assert 0.0 <= mrr <= 1.0
        assert ndcg is None or 0.0 <= ndcg <= 1.0 + 1e-9
        # MRR >= 1/k whenever any relevant doc made the top k
        if rel_at_k > 0:
            assert mrr >= 1.0 / staged_r15._REV_K - 1e-9


def test_winnow_coverage_guarantee(duck):
    """The winnowing THEOREM (Schleimer 2003): any document pair sharing
    a run of >= k+w-1 = 7 consecutive tokens MUST appear in the candidate
    set — both docs' windows over that run select the same minimum gram
    hash. Exhaustively scan shared 7-grams and assert every such pair is
    a candidate."""
    cand = {
        (r[0], r[1])
        for r in duck.execute(staged_r15.DEDUP_WINNOW_ORACLE).fetchall()
    }
    seven = duck.execute(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents), g AS ("
        "  SELECT doc_id, unnest(list_transform(generate_series(1, "
        "    greatest(len(toks) - 6, 0)), "
        "    i -> array_to_string(list_slice(toks, i, i + 6), ' '))) AS g7"
        "  FROM t) "
        "SELECT DISTINCT a.doc_id, b.doc_id FROM g a JOIN g b "
        "ON a.g7 = b.g7 AND a.doc_id < b.doc_id"
    ).fetchall()
    missed = [p for p in seven if tuple(p) not in cand]
    assert missed == [], f"winnowing guarantee violated for {missed[:5]}"


def test_winnow_verify_counts_positive(duck):
    """Every candidate pair's exact shared-gram count is consistent: a
    pair sharing a fingerprint shares at least the gram that produced it
    (the fingerprint IS one of the pair's gram hashes), so
    n_shared_grams >= 1 barring an (astronomically unlikely) md5-prefix
    collision."""
    rows = duck.execute(staged_r15.DEDUP_WINNOW_ORACLE).fetchall()
    assert all(r[3] >= 1 for r in rows)
    assert all(r[2] >= 1 for r in rows)


def test_k_anonymity_internal_consistency(duck):
    n_rows, n_groups, k, gb, rb, share = duck.execute(
        staged_r15.DQ_K_ANONYMITY_ORACLE
    ).fetchone()
    assert 1 <= k and gb <= n_groups and rb <= n_rows
    assert abs(share - rb / n_rows) < 1e-6
    # census must cover the table exactly
    total = duck.execute("SELECT count(*) FROM customer").fetchone()[0]
    assert n_rows == total


def test_importance_weights_hit_uniform_target(duck):
    """Reweighted mass per language must be equal (= N/L) and the ESS
    identity (Σw)²/Σw² <= N must hold with equality iff already uniform."""
    rows = duck.execute(staged_r15.SAMPLE_IMPORTANCE_ORACLE).fetchall()
    n_total = sum(r[1] for r in rows)
    masses = [r[1] * r[3] for r in rows]
    expect = n_total / len(rows)
    assert all(abs(m - expect) < expect * 1e-4 for m in masses)
    ess, eff = rows[0][4], rows[0][5]
    assert 0 < ess <= n_total * (1 + 1e-9)
    assert abs(eff - ess / n_total) < 1e-4


def test_cluster_purity_bounds(duck):
    n, kc, nl, purity, nmi = duck.execute(
        staged_r15.SIM_CLUSTER_PURITY_ORACLE
    ).fetchone()
    assert n > 0 and kc >= 1 and nl >= 1
    assert 0.0 <= purity <= 1.0 and 0.0 <= nmi <= 1.0 + 1e-9
    # purity is bounded below by the largest label's share: assigning
    # every cluster's majority to that label is always available
    top_share = duck.execute(
        "SELECT max(c) / (1.0 * sum(c)) FROM ("
        "  SELECT count(*) AS c FROM embeddings GROUP BY label)"
    ).fetchone()[0]
    assert purity >= top_share - 1e-9
