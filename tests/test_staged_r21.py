"""Round-21 staged operators (operators/staged_r21.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards
re-derive every result in plain Python from DuckDB-fetched raw rows: the
Naive Bayes confusion matrix, the full 3-step GD weight trajectory, the
stump's exhaustive split scores, the per-pair BLEU clipped counts, MI's
information inequalities, and the exact integer CUSUM walk."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r21

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r21))
def test_staged_r21_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r21_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r21))


def _q9_py(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) * 1e9 + 0.5), x))


def test_naive_bayes_python_replica(spark, duck):
    """Re-train and re-classify in plain Python with the identical
    quantization; the confusion matrices must agree cell for cell."""
    toks = duck.execute(
        "SELECT doc_id, lang, w FROM (SELECT doc_id, lang, "
        "unnest(string_split(lower(text), ' ')) AS w FROM documents) "
        "WHERE w <> ''"
    ).fetchall()
    train = [(d, l, w) for d, l, w in toks if d % 5 != 0]
    ev = [(d, l, w) for d, l, w in toks if d % 5 == 0]
    assert train and ev
    cwl = Counter((l, w) for _, l, w in train)
    n_l = Counter()
    for (l, _), c in cwl.items():
        n_l[l] += c
    docs_l = defaultdict(set)
    for d, l, _ in train:
        docs_l[l].add(d)
    vocab = {w for _, _, w in train}
    v = len(vocab)
    n_train = len({d for d, _, _ in train})
    labels = sorted(docs_l)
    prior = {l: _q9_py(math.log(len(docs_l[l]) / n_train)) for l in labels}
    default = {l: _q9_py(math.log(1.0 / (n_l[l] + v))) for l in labels}
    wq = {
        (l, w): _q9_py(math.log((c + 1.0) / (n_l[l] + v)))
        for (l, w), c in cwl.items()
    }
    ev_docs = defaultdict(Counter)
    true_lang = {}
    for d, l, w in ev:
        ev_docs[d][w] += 1
        true_lang[d] = l
    conf = Counter()
    for d, counts in ev_docs.items():
        best = None
        for l in labels:
            score = prior[l] + sum(
                cnt * wq.get((l, w), default[l]) for w, cnt in counts.items()
            )
            if best is None or score > best[0] or (
                score == best[0] and l < best[1]
            ):
                best = (score, l)
        conf[(true_lang[d], best[1])] += 1
    got = {
        (r.lang, r.pred_lang): r.n_docs
        for r in staged_r21.stat_naive_bayes(spark, SF_DIR).collect()
    }
    assert got == dict(conf)
    assert sum(got.values()) == len(ev_docs)


def test_gd_logreg_python_replica(spark, duck):
    """Walk the identical quantized trajectory in Python/numpy; the final
    weights must match exactly and the loss must beat the w=0 baseline."""
    import numpy as np

    rows = duck.execute(
        "SELECT l_quantity / 50.0, l_discount * 10.0, "
        "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END FROM lineitem"
    ).fetchall()
    x1 = np.array([float(r[0]) for r in rows])
    x2 = np.array([float(r[1]) for r in rows])
    y = np.array([float(r[2]) for r in rows])
    w = (0.0, 0.0, 0.0)
    for _ in range(staged_r21._GD_ITERS):
        z = w[0] + w[1] * x1 + w[2] * x2
        p = 1.0 / (1.0 + np.exp(-z))
        w = (
            staged_r21._w6_py(w[0] - staged_r21._GD_LR * float(np.mean(p - y))),
            staged_r21._w6_py(
                w[1] - staged_r21._GD_LR * float(np.mean((p - y) * x1))
            ),
            staged_r21._w6_py(
                w[2] - staged_r21._GD_LR * float(np.mean((p - y) * x2))
            ),
        )
    r = staged_r21.stat_gd_logreg(spark, SF_DIR).collect()[0]
    assert (r.w0, r.w1, r.w2) == w
    assert r.n == len(rows) and 0 < r.n_correct <= r.n
    assert r.accuracy == round(r.n_correct / r.n, 6)
    # trained loss beats the uninformed w=0 loss ln 2
    assert 0.0 < r.logloss < math.log(2.0)


def test_stump_is_argmax_over_all_splits(spark, duck):
    """Exhaustively re-score every candidate split in Python; the emitted
    row per feature must hold the max score (ties → smallest thr)."""
    rows = {
        r.feature: r
        for r in staged_r21.stat_decision_stump(spark, SF_DIR).collect()
    }
    assert set(rows) == {"l_quantity", "l_discount_cents"}
    for feature, sql in [
        ("l_quantity", "CAST(l_quantity AS BIGINT)"),
        (
            "l_discount_cents",
            "CAST(sign(l_discount) * floor(abs(l_discount) * 100 + 0.5) "
            "AS BIGINT)",
        ),
    ]:
        data = duck.execute(
            f"SELECT {sql} AS v, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 "
            "END AS y FROM lineitem"
        ).fetchall()
        grid = sorted({v for v, _ in data})
        n_t = len(data)
        pos_t = sum(y for _, y in data)
        best = None
        for thr in grid[:-1]:
            n_l = sum(1 for v, _ in data if v <= thr)
            pos_l = sum(y for v, y in data if v <= thr)
            neg_l, n_r = n_l - pos_l, n_t - n_l
            pos_r = pos_t - pos_l
            neg_r = n_r - pos_r
            score = (pos_l * pos_l + neg_l * neg_l) / n_l + (
                pos_r * pos_r + neg_r * neg_r
            ) / n_r
            if best is None or score > best[0]:
                best = (score, thr, n_l, pos_l, n_r, pos_r)
        r = rows[feature]
        assert (r.thr, r.n_left, r.pos_left, r.n_right, r.pos_right) == best[1:]
        gain = best[0] / n_t - (
            pos_t * pos_t + (n_t - pos_t) * (n_t - pos_t)
        ) / n_t / n_t
        assert abs(r.gini_gain - gain) < 5.01e-7  # output is rounded 6 dp
        assert r.gini_gain >= -1e-12


def test_bleu_python_replica(spark, duck):
    """Re-compute every pair's clipped counts and BLEU-2 with Counters."""
    texts = dict(
        duck.execute("SELECT doc_id, lower(text) FROM documents").fetchall()
    )
    got = list(staged_r21.text_bleu(spark, SF_DIR).collect())
    assert got
    for r in got:
        ref = [w for w in texts[r.doc_id_a].split(" ") if w]
        cand = [w for w in texts[r.doc_id_b].split(" ") if w]
        assert (r.r_len, r.c_len) == (len(ref), len(cand))
        cu, ru = Counter(cand), Counter(ref)
        m1 = sum(min(c, ru[w]) for w, c in cu.items())
        cb = Counter(zip(cand, cand[1:]))
        rb = Counter(zip(ref, ref[1:]))
        m2 = sum(min(c, rb[g]) for g, c in cb.items())
        assert (r.m1, r.m2) == (m1, m2)
        bp = 1.0 if len(cand) >= len(ref) else math.exp(
            1.0 - len(ref) / len(cand)
        )
        bleu = bp * math.sqrt(
            (m1 / len(cand)) * (m2 / (len(cand) - 1))
        )
        assert abs(r.bleu2 - bleu) < 1e-6
        assert 0.0 <= r.bleu2 <= 1.0 + 1e-9


def test_mi_information_inequalities(spark):
    r = staged_r21.stat_mi(spark, SF_DIR).collect()[0]
    assert r.n > 0 and r.n_cells >= 1
    # 0 <= MI <= min(H_x, H_y); NMI in [0, 1]
    assert -1e-9 <= r.mi_nats <= min(r.h_x, r.h_y) + 1e-9
    assert r.h_x <= math.log(r.n_cells) + 1e-9
    if r.nmi is not None:
        assert -1e-9 <= r.nmi <= 1.0 + 1e-9


def test_cusum_python_replica_exact(spark, duck):
    """The integer walk must match a plain-Python replay EXACTLY."""
    daily = duck.execute(
        "SELECT event_type, CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) "
        "AS day, count(*) AS c FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series = defaultdict(list)
    for t, day, c in daily:
        series[t].append((day, c))
    R = staged_r21._CUSUM_REF_DAYS
    expect = {}
    for t, rows in series.items():
        if len(rows) <= R:
            continue
        ref_sum = sum(c for _, c in rows[:R])
        s = peak = alarms = 0
        first = None
        for day, c in rows[R:]:
            s = max(0, s + 4 * R * c - 5 * ref_sum)
            peak = max(peak, s)
            if s > 8 * ref_sum:
                alarms += 1
                if first is None:
                    first = day
        expect[t] = (len(rows) - R, alarms, first, peak, ref_sum)
    got = {
        r.event_type: (
            r.n_monitor_days,
            r.n_alarm_days,
            r.first_alarm_day,
            r.peak_stat,
            r.ref_sum,
        )
        for r in staged_r21.event_cusum_alarm(spark, SF_DIR).collect()
    }
    assert got == expect
    assert got  # fixture has > 10 days per type
