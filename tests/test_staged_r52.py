"""Round-52 staged operators (operators/staged_r52.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the closed-form water-filling against the SEQUENTIAL cap-and-redistribute
replay (exact-fractions), the entropy rates against a Counter replay with
the information-theoretic bounds, the log₂ histogram against the bucket
identity 2ᵇ ≤ x < 2ᵇ⁺¹, and the cardinality estimator against its own
identities (PK–FK q-ratio 1, self-join truth = Σf²)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from fractions import Fraction

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r52

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r52))
def test_staged_r52_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r52_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r52))


def test_epoch_scheduler_sequential_replay(spark, duck):
    """The closed-form prefix rule equals the sequential water-filling
    loop (cap the cheapest cap/weight source, recompute the level,
    repeat) — allocation for every source, bit-exact."""
    data = duck.execute(
        "SELECT source, sum(len(string_split(lower(text), ' '))) "
        "FROM documents GROUP BY source"
    ).fetchall()
    B = (3 * sum(t for _, t in data)) // 2
    srcs = []
    for s, t in data:
        digits = int("".join(ch for ch in s if ch.isdigit()))
        cap = 3 * t if digits % 2 == 0 else t
        srcs.append((s, t, math.floor(math.sqrt(t) * 1e6), cap))
    order = sorted(srcs, key=lambda x: (Fraction(x[3], x[2]), x[0]))
    rem_b, rem_w = B, sum(w for _, _, w, _ in srcs)
    alloc, capped = {}, set()
    for s, t, w, cap in order:
        if Fraction(cap, w) <= Fraction(rem_b, rem_w):
            alloc[s] = cap
            capped.add(s)
            rem_b -= cap
            rem_w -= w
    for s, t, w, cap in order:
        if s not in alloc:
            alloc[s] = (rem_b * w) // rem_w
    got = {r.source: r for r in staged_r52.pipeline_epoch_scheduler(spark, SF_DIR).collect()}
    assert {s: r.alloc_tokens for s, r in got.items()} == alloc
    assert {s for s, r in got.items() if r.is_capped} == capped
    for s, t, w, cap in srcs:
        r = got[s]
        assert r.toks == t and r.cap_tokens == cap
        assert r.alloc_tokens <= cap  # the cap binds
        assert r.epochs == pytest.approx(r.alloc_tokens / t, abs=5.01e-7)
    # budget conservation: floors lose < 1 token per uncapped source
    total = sum(r.alloc_tokens for r in got.values())
    assert B - len(srcs) < total <= B
    assert capped  # the tiered caps actually bind on this fixture


def test_char_entropy_counter_replay(spark, duck):
    rows = duck.execute(
        f"SELECT doc_id, text FROM documents WHERE doc_id < {staged_r52._ENT_DOCS}"
    ).fetchall()
    got = {r.doc_id: r for r in staged_r52.text_char_entropy_rate(spark, SF_DIR).collect()}
    assert set(got) == {d for d, _ in rows}
    for doc_id, text in rows:
        grams = [text[i : i + 2] for i in range(len(text) - 1)]
        chars = [text[i] for i in range(len(text) - 1)]
        n = len(grams)

        def ent(cnt):
            return -sum((k / n) * math.log(k / n) for k in cnt.values())

        hxy, hx = ent(Counter(grams)), ent(Counter(chars))
        r = got[doc_id]
        assert r.n_bigrams == n
        assert r.h_bigram == pytest.approx(hxy, abs=5.01e-7)
        assert r.h_char == pytest.approx(hx, abs=5.01e-7)
        assert r.cond_entropy == pytest.approx(hxy - hx, abs=1.01e-6)
        # information-theoretic sandwich: 0 ≤ H(c2|c1) ≤ H(bigram)
        assert -1e-6 <= r.cond_entropy <= r.h_bigram + 1e-6


def test_log2_hist_bucket_identity(spark, duck):
    rows = duck.execute(
        "SELECT source, n_chars FROM documents WHERE n_chars > 0"
    ).fetchall()
    want = defaultdict(lambda: [0, 0])
    for s, x in rows:
        b = x.bit_length() - 1
        assert 2**b <= x < 2 ** (b + 1)  # the bucket identity
        st = want[(s, b)]
        st[0] += 1
        st[1] += x
    got = {
        (r.source, r.log2_bucket): (r.n_docs, r.sum_chars)
        for r in staged_r52.agg_log2_hist(spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()}


def test_cardinality_estimator_identities(spark, duck):
    got = {r.join_name: r for r in staged_r52.join_cardinality_estimate(spark, SF_DIR).collect()}
    pk = got["orders_customer"]
    # every order references an existing customer → estimator is exact here
    assert pk.est_rows == pk.actual_rows == pk.n_left
    assert pk.q_ratio == 1.0
    sj = got["events_self_user"]
    truth = duck.execute(
        "SELECT sum(f * f) FROM (SELECT count(*) AS f FROM events "
        "GROUP BY user_id)"
    ).fetchone()[0]
    assert sj.actual_rows == truth
    assert sj.est_rows == (sj.n_left * sj.n_right) // sj.ndv_left
    # under any nonuniform key distribution Σf² ≥ n²/ndv (Cauchy–Schwarz),
    # so the containment estimator can only UNDER-estimate a self-join
    assert sj.est_rows <= sj.actual_rows
    assert sj.q_ratio == pytest.approx(
        sj.est_rows / sj.actual_rows, abs=5.01e-7
    )
