"""Round-38 staged operators (operators/staged_r38.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
truncation argmaxes against a numpy sweep (full-dim self-agreement = 1
pinned), Mantel–Haenszel against Python 2×2 algebra, slug idempotence +
charset, the regression-to-the-mean direction itself (the phenomenon IS the
assertion), and AM ≥ GM."""

from __future__ import annotations

import math
import re
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r38

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r38))
def test_staged_r38_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r38_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r38))


def test_truncation_numpy_argmax(spark, duck):
    import numpy as np

    embs = duck.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM embeddings"
    ).fetchall()
    ids = np.array([r[0] for r in embs])
    X = np.array([r[1] for r in embs])
    probe_mask = ids < staged_r38._TRUNC_PROBES
    agrees = {}
    picks = {}
    for d in staged_r38._TRUNC_DIMS:
        S = np.round(X[probe_mask, :d] @ X[:, :d].T, 6)
        pick = {}
        for pi, pid in enumerate(ids[probe_mask]):
            best = None
            for ci, cid in enumerate(ids):
                if cid == pid:
                    continue
                key = (S[pi, ci], -cid)
                if best is None or key > best[0]:
                    best = (key, cid)
            pick[pid] = best[1]
        picks[d] = pick
    full = picks[staged_r38._TRUNC_DIMS[-1]]
    rows = {
        r.dim: r for r in staged_r38.sim_dim_truncation_eval(spark, SF_DIR).collect()
    }
    for d in staged_r38._TRUNC_DIMS:
        agree = sum(1 for p in full if picks[d][p] == full[p])
        r = rows[d]
        assert (r.n_probes, r.n_agree) == (len(full), agree)
    # the full dimension agrees with itself by definition
    assert rows[staged_r38._TRUNC_DIMS[-1]].agreement == 1.0
    # and truncating this corpus's embeddings genuinely loses neighbors
    assert rows[staged_r38._TRUNC_DIMS[0]].agreement < 1.0


def test_mantel_haenszel_python(spark, duck):
    rows = duck.execute(
        "SELECT ((CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
        " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
        "AS BIGINT) % 7) + 7) % 7, event_id % 2, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END FROM events"
    ).fetchall()
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for dow, v, y in rows:
        c = cells[dow]
        if v == 1 and y == 1:
            c[0] += 1
        elif v == 1:
            c[1] += 1
        elif y == 1:
            c[2] += 1
        else:
            c[3] += 1
    num = den = 0.0
    ta = tb = tc = td = 0
    for a, b, c, d in cells.values():
        n = a + b + c + d
        num += a * d / n
        den += b * c / n
        ta, tb, tc, td = ta + a, tb + b, tc + c, td + d
    r = staged_r38.stat_mantel_haenszel(spark, SF_DIR).collect()[0]
    assert r.n_strata == len(cells)
    assert abs(r.or_mh - num / den) < 1e-3
    assert abs(r.or_crude - (ta * td) / (tb * tc)) < 1e-3


def test_slugify_idempotent_and_charset(spark, duck):
    rows = staged_r38.fn_slugify(spark, SF_DIR).collect()
    assert rows
    pat = re.compile(r"^[a-z0-9]+(-[a-z0-9]+)*$|^$")
    for r in rows:
        assert pat.match(r.slug), r.slug
        assert r.slug_len == len(r.slug)
        # idempotence: re-slugifying a slug is a no-op
        again = re.sub(r"[^a-z0-9]+", "-", r.slug.lower()).strip("-")
        assert again == r.slug


def test_regression_to_mean_direction(spark, duck):
    rows = {
        r.cohort: r
        for r in staged_r38.stat_regression_to_mean(spark, SF_DIR).collect()
    }
    top = rows["top_quintile"]
    rest = rows["rest"]
    # the phenomenon: the selected-high cohort regresses DOWN and the
    # rest drifts UP toward the mean (selection on a noisy metric)
    assert top.mean_second < top.mean_first
    assert rest.mean_second > rest.mean_first
    # and the selection really took ~a fifth of users (ties inclusive)
    n = top.n_users + rest.n_users
    assert top.n_users >= math.ceil(n / 5) - 1
    assert top.n_users <= max(math.ceil(n / 5) + 3, math.ceil(0.3 * n))


def test_geometric_mean_am_gm(spark, duck):
    vals = defaultdict(list)
    for p, v in duck.execute(
        "SELECT o_orderpriority, o_totalprice FROM orders "
        "WHERE o_totalprice > 0"
    ).fetchall():
        vals[p].append(v)
    rows = {r.o_orderpriority: r for r in staged_r38.agg_geometric_mean(spark, SF_DIR).collect()}
    assert set(rows) == set(vals)
    for p, xs in vals.items():
        r = rows[p]
        geo = math.exp(sum(math.log(x) for x in xs) / len(xs))
        assert r.n == len(xs)
        assert abs(r.geo_mean - geo) < 1e-2
        assert abs(r.arith_mean - sum(xs) / len(xs)) < 1e-2
        assert r.geo_mean <= r.arith_mean + 1e-9  # AM-GM
