"""Round-39 staged operators (operators/staged_r39.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the ratio pitfall against Python weighted math (with the divergence asserted
nonzero somewhere — the pitfall is real on this corpus), MCC against
sklearn-free formula algebra plus the trivial-rule comparison, id continuity
against set arithmetic (with the expected lineitem non-contiguity), and
base64 against Python's own codec with the length law."""

from __future__ import annotations

import base64
import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r39

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r39))
def test_staged_r39_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r39_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r39))


def test_ratio_pitfall_python_weighted(spark, duck):
    rows = duck.execute(
        "SELECT o_orderpriority, l_discount, l_extendedprice "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).fetchall()
    agg = defaultdict(lambda: [0.0, 0.0, 0.0, 0])
    for p, disc, price in rows:
        a = agg[p]
        a[0] += disc * price
        a[1] += price
        a[2] += disc
        a[3] += 1
    got = {r.p: r for r in staged_r39.agg_ratio_pitfall(spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    any_divergence = False
    for p, (wsum, psum, dsum, n) in agg.items():
        r = got[p]
        assert r.n_lines == n
        assert abs(r.ratio_of_sums - wsum / psum) < 1e-6
        assert abs(r.avg_of_ratios - dsum / n) < 1e-6
        if r.divergence > 1e-4:
            any_divergence = True
    assert any_divergence  # the pitfall is real on this corpus


def test_mcc_formula_and_trivial_rule(spark, duck):
    r = staged_r39.stat_mcc_langid(spark, SF_DIR).collect()[0]
    tp, fp, fn_, tn = r.tp, r.fp, r.fn, r.tn
    total = tp + fp + fn_ + tn
    assert total == duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    den = math.sqrt((tp + fp) * (tp + fn_)) * math.sqrt((tn + fp) * (tn + fn_))
    mcc = (tp * tn - fp * fn_) / den
    assert abs(r.mcc - mcc) < 1e-6
    assert abs(r.accuracy - (tp + tn) / total) < 1e-6
    # the trivial always-negative rule scores the majority-class share as
    # accuracy but is useless; MCC exposes the gap when signal exists
    actual_neg_share = (fp + tn) / total  # true non-English share
    assert actual_neg_share > 0.5  # the classes ARE imbalanced here
    assert -1.0 - 1e-9 <= r.mcc <= 1.0 + 1e-9


def test_id_continuity_set_arithmetic(spark, duck):
    rows = {
        r.id_column: r
        for r in staged_r39.dq_id_continuity(spark, SF_DIR).collect()
    }
    cases = {
        "orders.o_orderkey": "SELECT o_orderkey FROM orders",
        "documents.doc_id": "SELECT doc_id FROM documents",
        "events.event_id": "SELECT event_id FROM events",
        "lineitem.l_orderkey": "SELECT l_orderkey FROM lineitem",
    }
    for name, q in cases.items():
        ids = {x[0] for x in duck.execute(q).fetchall() if x[0] is not None}
        r = rows[name]
        span = max(ids) - min(ids) + 1
        assert (r.min_id, r.max_id) == (min(ids), max(ids))
        assert (r.expected_span, r.n_distinct) == (span, len(ids))
        assert r.n_missing == span - len(ids)
        assert r.is_contiguous == (span == len(ids))
    # the census distinguishes: lineitem.l_orderkey has real holes
    # (orders with no lines), while at least one id column is contiguous
    assert not rows["lineitem.l_orderkey"].is_contiguous
    assert any(r.is_contiguous for r in rows.values())


def test_base64_python_codec(spark, duck):
    texts = dict(
        duck.execute(
            "SELECT doc_id, substr(text, 1, 24) FROM documents "
            "WHERE text IS NOT NULL ORDER BY doc_id LIMIT 25"
        ).fetchall()
    )
    rows = {r.doc_id: r for r in staged_r39.fn_base64(spark, SF_DIR).collect()}
    for doc_id, head in texts.items():
        raw = head.encode("utf-8")
        r = rows[doc_id]
        assert r.b64 == base64.b64encode(raw).decode("ascii")
        assert r.b64_len == 4 * math.ceil(len(raw) / 3)  # the length law
        assert r.roundtrip_ok
    assert all(r.roundtrip_ok for r in rows.values())
