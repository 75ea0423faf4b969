"""Round-55 staged operators (operators/staged_r55.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the prefix-cache census against a dict replay, FK discovery against set
containment (and the decoy must be rejected), the dialect sniff against a
byte-level re-read of the staged CSVs, and Bartels' RVN against a rank
replay with the E[RVN] ≈ 2 sanity."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r55

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r55))
def test_staged_r55_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r55_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r55))


def test_prefix_cache_dict_replay(spark, duck):
    rows = duck.execute("SELECT lower(text) FROM documents").fetchall()
    W = staged_r55._PREFIX_TOKENS
    groups = Counter()
    total_toks = n_docs = 0
    for (text,) in rows:
        toks = text.split(" ")
        if len(toks) < W:
            continue
        n_docs += 1
        total_toks += len(toks)
        groups[" ".join(toks[:W])] += 1
    cached = sum((n - 1) * W for n in groups.values() if n > 1)
    r = staged_r55.text_prefix_cache_value(spark, SF_DIR).first()
    assert r.n_docs == n_docs
    assert r.n_prefixes == len(groups)
    assert r.docs_in_shared == sum(n for n in groups.values() if n > 1)
    assert r.cached_tokens == cached
    assert r.savings_frac == pytest.approx(cached / total_toks, abs=5.01e-7)
    assert 0.0 <= r.savings_frac < 1.0


def test_fk_discovery_set_replay(spark, duck):
    got = {(r.child, r.parent): r for r in staged_r55.join_fk_discovery(spark, SF_DIR).collect()}
    assert len(got) == len(staged_r55._FK_HYPOTHESES)
    for ct, cc, pt, pc in staged_r55._FK_HYPOTHESES:
        child = {v for (v,) in duck.execute(f"SELECT DISTINCT {cc} FROM {ct}").fetchall()}
        parent = {v for (v,) in duck.execute(f"SELECT DISTINCT {pc} FROM {pt}").fetchall()}
        r = got[(f"{ct}.{cc}", f"{pt}.{pc}")]
        assert r.child_ndv == len(child)
        assert r.contained_ndv == len(child & parent)
        assert r.containment == pytest.approx(
            len(child & parent) / len(child), abs=5.01e-7
        )
        assert r.fk_candidate == (child <= parent)
    # the three true FKs are flagged; the decoy is rejected
    assert got[("orders.o_custkey", "customer.c_custkey")].fk_candidate
    assert got[("lineitem.l_partkey", "part.p_partkey")].fk_candidate
    assert got[("lineitem.l_suppkey", "supplier.s_suppkey")].fk_candidate
    assert not got[("orders.o_orderkey", "customer.c_custkey")].fk_candidate


def test_dialect_sniff_byte_reread(spark):
    import hashlib
    import os
    import tempfile

    got = {r.file_name: r for r in staged_r55.scan_csv_dialect_sniff(spark, SF_DIR).collect()}
    assert len(got) == len(staged_r55._SNIFF_DELIMS)
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_csvd_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    for i, (delim, name) in enumerate(staged_r55._SNIFF_DELIMS):
        fname = f"dialect{i}.csv"
        r = got[fname]
        assert r.detected == name
        raw = open(os.path.join(stage, fname)).read().rstrip("\n")
        lines = raw.split("\n")
        assert r.n_lines == len(lines)
        # every line really has exactly n_cols-1 of the winning delimiter
        counts = {line.count(delim) for line in lines}
        assert counts == {r.n_cols - 1}
        # and NO other candidate is consistent-positive on this file
        for other, _ in staged_r55._SNIFF_DELIMS:
            if other == delim:
                continue
            ocounts = {line.count(other) for line in lines}
            assert len(ocounts) > 1 or ocounts == {0}


def test_bartels_rank_replay(spark, duck):
    rows = duck.execute(
        "SELECT day, y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
        "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
        "FROM events WHERE event_type = 'purchase' GROUP BY 1) ORDER BY day"
    ).fetchall()
    ys = [y for _, y in rows]
    n = len(ys)
    svals = sorted(ys)
    first = {}
    for idx, v in enumerate(svals, start=1):
        first.setdefault(v, idx)
    cnt = Counter(ys)
    r2 = [2 * first[v] + cnt[v] - 1 for v in ys]  # doubled midranks, day order
    nm = sum((a - b) ** 2 for a, b in zip(r2, r2[1:]))
    sr, sr2 = sum(r2), sum(x * x for x in r2)
    rvn = round(n * nm / (n * sr2 - sr * sr), 6)
    r = staged_r55.stat_bartels_rank(spark, SF_DIR).first()
    assert r.n_days == n
    assert r.rvn == pytest.approx(rvn, abs=1e-6)
    assert r.looks_random == (
        staged_r55._BARTELS_RANDOM_LO <= r.rvn <= staged_r55._BARTELS_RANDOM_HI
    )
    assert 0.0 < r.rvn < 4.0  # RVN lives in (0, 4)
