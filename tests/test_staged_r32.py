"""Round-32 staged operators (operators/staged_r32.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the EWMA chart against a plain Python recursion with the textbook limit
formula (pow-based, vs the op's carried variance state — they must agree to
float tolerance), the source template against Python os.path.commonprefix
over ALL texts of a group, null-safe join counts against dict counting (with
the NULL bucket asserted non-empty), shrinkage against the pooled/raw
ordering properties every shrinker must satisfy, and the catalog snapshot
against pyarrow's own view of the parquet schemas."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r32

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r32))
def test_staged_r32_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r32_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r32))


def test_ewma_python_textbook(spark, duck):
    days = sorted(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), CAST(count(*) AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    )
    xs = [c for _, c in days]
    n = len(xs)
    mu = sum(xs) / n
    sigma = math.sqrt((n * sum(x * x for x in xs) - sum(xs) ** 2)) / n
    lam, big_l = staged_r32._EWMA_LAMBDA, staged_r32._EWMA_L
    rows = {r.day: r for r in staged_r32.stat_ewma_chart(spark, SF_DIR).collect()}
    assert len(rows) == n
    z = mu
    for t, (day, x) in enumerate(days, start=1):
        z = lam * x + (1 - lam) * z
        half = big_l * sigma * math.sqrt(
            lam / (2 - lam) * (1 - (1 - lam) ** (2 * t))
        )
        r = rows[day]
        assert r.cnt == x
        assert abs(r.z - z) < 1e-5
        assert abs(r.ucl - (mu + half)) < 1e-4
        assert abs(r.lcl - (mu - half)) < 1e-4
        assert r.out_of_control == (abs(z - mu) > half) or abs(
            abs(z - mu) - half
        ) < 1e-9


def test_source_template_commonprefix_all(spark, duck):
    texts = defaultdict(list)
    for src, text in duck.execute(
        "SELECT source, text FROM documents WHERE text IS NOT NULL"
    ).fetchall():
        texts[src].append(text)
    rows = {
        r.source: r
        for r in staged_r32.text_source_template(spark, SF_DIR).collect()
    }
    assert set(rows) == set(texts)
    for src, ts in texts.items():
        lcp = os.path.commonprefix(ts)[: staged_r32._LCP_MAX]
        r = rows[src]
        assert r.n_docs == len(ts)
        assert r.lcp_len == len(lcp)
        assert r.template_prefix == lcp


def test_null_safe_dict_counts(spark, duck):
    types = dict(
        duck.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    rows = {
        r.key_display: (r.category, r.n)
        for r in staged_r32.join_null_safe(spark, SF_DIR).collect()
    }
    assert rows.get("<null>") == ("unknown", types.get("error", 0))
    assert rows["<null>"][1] > 0  # the NULL bucket genuinely matched
    for k, cat in [
        ("click", "engagement"),
        ("view", "engagement"),
        ("purchase", "revenue"),
        ("signup", "growth"),
    ]:
        assert rows[k] == (cat, types[k])


def test_shrinkage_order_properties(spark, duck):
    rows = staged_r32.stat_eb_shrinkage(spark, SF_DIR).collect()
    assert rows
    p0 = sum(r.c for r in rows) / sum(r.n for r in rows)
    for r in rows:
        raw = r.c / r.n
        assert abs(r.raw_rate - raw) < 1e-6
        # shrunk lies strictly between raw and the pooled rate
        lo, hi = sorted((raw, p0))
        assert lo - 1e-9 <= r.shrunk_rate <= hi + 1e-9
        # and moves TOWARD the pool (weakly): |shrunk - p0| <= |raw - p0|
        assert abs(r.shrunk_rate - p0) <= abs(raw - p0) + 1e-9
    # smaller n shrinks more at equal raw distance: check the extremes
    big = max(rows, key=lambda r: r.n)
    assert abs(big.shrunk_rate - big.raw_rate) <= max(
        abs(r.shrunk_rate - r.raw_rate) for r in rows
    ) + 1e-12


def test_catalog_pyarrow_schema(spark, duck):
    import hashlib

    import pyarrow.parquet as pq

    rows = {
        r.table_name: r
        for r in staged_r32.dq_catalog_snapshot(spark, SF_DIR).collect()
    }
    assert set(rows) == set(staged_r32._CATALOG_TABLES)
    for t in staged_r32._CATALOG_TABLES:
        meta = pq.read_metadata(f"{SF_DIR}/{t}.parquet")
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        r = rows[t]
        assert r.n_rows == meta.num_rows
        assert r.n_cols == len(schema.names)
        assert r.schema_md5 == hashlib.md5(
            ",".join(schema.names).encode()
        ).hexdigest()
