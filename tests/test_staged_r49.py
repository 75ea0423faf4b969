"""Round-49 staged operators (operators/staged_r49.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
Theil against a math replay plus the additive-decomposition identity, the
PPM census against a numpy replay AND a byte-level header re-read, the SRT
cues against a text re-read, and Page's L against a pure-Python midrank
replay."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r49

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r49))
def test_staged_r49_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r49_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r49))


def test_theil_math_replay_and_decomposition(spark, duck):
    rows = duck.execute(
        "SELECT source, n_chars FROM documents WHERE n_chars > 0"
    ).fetchall()
    n = len(rows)
    sx = sum(x for _, x in rows)
    groups = defaultdict(list)
    for s, x in rows:
        groups[s].append(x)
    t_tot = sum((x / sx) * math.log(x * n / sx) for _, x in rows)
    t_bet = sum(
        (sum(xs) / sx) * math.log((sum(xs) * n) / (sx * len(xs)))
        for xs in groups.values()
    )
    r = staged_r49.agg_theil_index(spark, SF_DIR).first()
    assert (r.n_docs, r.k_groups) == (n, len(groups))
    assert r.theil_total == pytest.approx(t_tot, abs=5.01e-7)
    assert r.theil_between == pytest.approx(t_bet, abs=5.01e-7)
    # additive decomposability: within = total − between, and both parts
    # are non-negative (between can only be 0 when group means are equal)
    assert r.theil_within == pytest.approx(t_tot - t_bet, abs=5.01e-7)
    assert r.theil_total >= 0 and r.theil_between >= -1e-9
    assert r.theil_within >= -1e-9


def test_ppm_numpy_replay_and_header(spark):
    import glob
    import os
    import tempfile

    import numpy as np

    got = {r.doc_id: r for r in staged_r49.mm_ppm_decode(spark, SF_DIR).collect()}
    assert len(got) == staged_r49._PPM_DOC_HI - staged_r49._PPM_DOC_LO
    for doc_id, r in got.items():
        w, h = 8 + doc_id % 8, 6 + doc_id % 6
        k = np.arange(w * h * 3, dtype=np.int64)
        v = (doc_id * 31 + k * 7) % 256
        rgb = v.reshape(h, w, 3)
        assert (r.width, r.height) == (w, h)
        assert (r.sum_r, r.sum_g, r.sum_b) == (
            int(rgb[:, :, 0].sum()),
            int(rgb[:, :, 1].sum()),
            int(rgb[:, :, 2].sum()),
        )
        assert (r.min_byte, r.max_byte) == (int(v.min()), int(v.max()))
        assert r.sum_r + r.sum_g + r.sum_b == int(v.sum())
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_ppm_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    for path in glob.glob(os.path.join(stage, "*.ppm"))[:5]:
        doc_id = int(os.path.basename(path).split(".")[0])
        blob = open(path, "rb").read()
        w, h = 8 + doc_id % 8, 6 + doc_id % 6
        header = f"P6\n{w} {h}\n255\n".encode()
        assert blob.startswith(header)
        assert len(blob) == len(header) + w * h * 3


def test_srt_text_reread(spark, duck):
    import os
    import tempfile

    got = sorted(
        staged_r49.mm_srt_parse(spark, SF_DIR).collect(), key=lambda r: r.seq
    )
    docs = duck.execute(
        "SELECT doc_id, n_chars, text FROM documents WHERE doc_id >= ? AND "
        "doc_id < ? ORDER BY doc_id",
        [staged_r49._SRT_DOC_LO, staged_r49._SRT_DOC_HI],
    ).fetchall()
    assert len(got) == len(docs)
    for seq, (r, (doc_id, n_chars, text)) in enumerate(zip(got, docs), start=1):
        assert r.seq == seq
        assert r.start_ms == doc_id * 1000
        assert r.end_ms == doc_id * 1000 + 500 + n_chars % 1500
        assert r.duration_ms == r.end_ms - r.start_ms
        assert 0 < r.duration_ms < 2000
        assert r.n_words == 2 + min(3, len(text.split(" ")))
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_srt_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    raw = open(os.path.join(stage, "track0.srt")).read()
    blocks = [b for b in raw.split("\n\n") if b.strip()]
    assert len(blocks) == len(docs)
    assert blocks[0].splitlines()[0] == "1"
    assert " --> " in blocks[0].splitlines()[1]


def test_page_trend_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000, count(*) FROM events "
        "GROUP BY 1"
    ).fetchall()
    k = staged_r49._PAGE_K
    weeks = defaultdict(dict)
    for day, v in rows:
        weeks[day // 7][day % 7] = v
    full = {wk: m for wk, m in weeks.items() if len(m) == k}
    n = len(full)
    assert n > 0
    l2 = 0
    for m in full.values():
        vals = sorted(m.values())
        for dow, v in m.items():
            r2 = 2 * (vals.index(v) + 1) + vals.count(v) - 1
            l2 += (dow + 1) * r2
    e_l = n * k * (k + 1) ** 2 / 4
    var_l = n * k * k * (k + 1) * (k * k - 1) / 144
    z = round((l2 / 2 - e_l) / math.sqrt(var_l), 6)
    r = staged_r49.stat_page_trend(spark, SF_DIR).first()
    assert (r.n_blocks, r.k_treatments) == (n, k)
    assert r.page_l == l2 / 2
    assert r.expected_l == e_l
    assert r.z == pytest.approx(z, abs=1e-6)
    assert r.trend_detected == (abs(r.z) > staged_r49._PAGE_Z_CUTOFF)
    # rank-sum identity: each full week contributes k(k+1) doubled-rank
    # mass, so L is bounded by n·k·k(k+1) (all mass at the top treatment)
    assert r.page_l <= n * k * k * (k + 1)
