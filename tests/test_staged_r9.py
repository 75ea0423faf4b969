"""Round-9 staged operators (operators/staged_r9.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import math

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r9

from .conftest import SF_DIR, assert_nonvacuous, compare_frames, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r9))
def test_staged_r9_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r9_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r9))


def test_linreg_matches_duckdb_builtin(duck):
    """The integer-sufficient-statistics OLS must agree with DuckDB's own
    regr_* aggregates to float tolerance — an independent derivation of
    the same statistics, so a formula transcription error on BOTH sides
    of the parity test cannot hide."""
    ours = {
        r[0]: r[1:]
        for r in duck.execute(
            f"SELECT l_returnflag, slope, intercept, r2 FROM ({staged_r9.STAT_LINREG_ORACLE})"
        ).fetchall()
    }
    builtin = duck.execute(
        "SELECT l_returnflag, regr_slope(l_extendedprice, l_quantity),"
        " regr_intercept(l_extendedprice, l_quantity),"
        " regr_r2(l_extendedprice, l_quantity) FROM lineitem GROUP BY 1"
    ).fetchall()
    for flag, slope, intercept, r2 in builtin:
        s, i, r = ours[flag]
        # our values are rounded to 6 dp; allow exactly that quantization
        assert math.isclose(s, slope, rel_tol=1e-6, abs_tol=5.1e-7)
        assert math.isclose(i, intercept, rel_tol=1e-4, abs_tol=5.1e-7)
        assert math.isclose(r, r2, rel_tol=1e-6, abs_tol=5.1e-7)


def test_corr_matrix_matches_duckdb_builtin(duck):
    """Same independent-derivation guard for the correlation matrix."""
    ours = {
        (r[0], r[1]): r[2]
        for r in duck.execute(staged_r9.STAT_CORR_MATRIX_ORACLE).fetchall()
    }
    for a, b in ours:
        ref = duck.execute(f"SELECT corr({a}, {b}) FROM lineitem").fetchone()[0]
        assert math.isclose(ours[(a, b)], ref, rel_tol=1e-6, abs_tol=5.1e-7), (a, b)


def test_skew_kurt_brute_force(duck):
    """Power-sum skewness/kurtosis vs a literal python recomputation of
    the population moments — an independent derivation, so a formula
    transcription error on BOTH sides of the parity test cannot hide."""
    ours = {
        r[0]: (r[2], r[3])
        for r in duck.execute(staged_r9.AGG_SKEW_KURT_ORACLE).fetchall()
    }
    rows = duck.execute(
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    by_grp: dict[str, list[int]] = {}
    for g, q in rows:
        by_grp.setdefault(g, []).append(q)
    for g, xs in by_grp.items():
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        assert math.isclose(ours[g][0], m3 / m2**1.5, abs_tol=2e-6), g
        assert math.isclose(ours[g][1], m4 / m2**2 - 3.0, abs_tol=2e-6), g


def test_ks_self_distance_is_zero(spark, duck):
    """KS distance of a distribution against itself is exactly 0, and the
    statistic is symmetric in its arguments."""
    r = staged_r9.stat_ks_test(spark, SF_DIR, "click", "click").collect()[0]
    assert r["ks_d"] == 0.0
    ab = staged_r9.stat_ks_test(spark, SF_DIR, "click", "error").collect()[0]
    ba = staged_r9.stat_ks_test(spark, SF_DIR, "error", "click").collect()[0]
    assert ab["ks_d"] == ba["ks_d"]
    assert (ab["n_a"], ab["n_b"]) == (ba["n_b"], ba["n_a"])


def test_ks_bucketed_equals_single_window(spark, duck):
    """The bucketed prefix-sum must equal the textbook single-window spec
    for an arbitrary event-type pair (not just the oracle's default)."""
    got = staged_r9.stat_ks_test(spark, SF_DIR, "signup", "view").collect()[0]
    want = duck.execute(
        staged_r9.STAT_KS_TEST_ORACLE.replace("'click'", "'signup'").replace(
            "'purchase'", "'view'"
        )
    ).fetchone()
    assert (got["n_a"], got["n_b"], got["ks_d"]) == (want[2], want[3], want[4])


def test_mad_brute_force(duck):
    """MAD oracle vs a literal python recomputation on the fixture."""
    import statistics

    rows = duck.execute(
        "SELECT o_orderpriority, o_totalprice FROM orders"
    ).fetchall()
    by_grp: dict[str, list[float]] = {}
    for g, v in rows:
        # HALF_UP cents, matching money_cents (python round() is banker's)
        by_grp.setdefault(g, []).append(
            int(math.copysign(math.floor(abs(v) * 100 + 0.5), v))
        )
    got = {
        r[0]: (r[2], r[3])
        for r in duck.execute(staged_r9.AGG_MAD_ORACLE).fetchall()
    }
    for g, cents in by_grp.items():
        med = statistics.median(cents)
        mad = statistics.median(abs(c - med) for c in cents)
        # the operator reports 2-dp dollars; an even-count median can sit
        # on a half-cent, so allow exactly that quantization
        assert math.isclose(got[g][0], med / 100.0, abs_tol=0.005 + 1e-9), g
        assert math.isclose(got[g][1], mad / 100.0, abs_tol=0.005 + 1e-9), g


def test_concurrency_brute_force(spark, duck):
    """Peak concurrency vs a literal per-day sweep in python."""
    rows = duck.execute("SELECT epoch_ns(ts) // 1000 FROM events").fetchall()
    ttl = staged_r9._CONC_TTL_US
    pts: list[tuple[int, int]] = []
    for (us,) in rows:
        pts.append((us, 1))
        pts.append((us + ttl, -1))
    by_day: dict[int, list[tuple[int, int]]] = {}
    for us, delta in pts:
        by_day.setdefault(us // 86_400_000_000, []).append((us, delta))
    want = {}
    for day, dpts in by_day.items():
        cur = peak = 0
        for _, delta in sorted(dpts):
            cur += delta
            peak = max(peak, cur)
        want[day] = peak
    got = {
        r["day"]: r["peak_concurrency"]
        for r in staged_r9.event_concurrency(spark, SF_DIR).collect()
    }
    assert got == want


def test_dq_all_checks_pass_on_clean_fixture(spark):
    """The generator's fixture satisfies every declared expectation, and
    the suite emits exactly one row per check."""
    rows = staged_r9.dq_expectations(spark, SF_DIR).collect()
    assert len(rows) == 6
    assert len({r["check_name"] for r in rows}) == 6
    for r in rows:
        assert r["passed"] and r["n_violations"] == 0, r["check_name"]
        assert r["n_rows"] > 0


def test_dq_catches_planted_violations(spark, duck, tmp_path):
    """Corrupt a copy of the fixture (null custkey, duplicated orderkey,
    negative price) and the right checks must flip to failed with exact
    violation counts."""
    import shutil

    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    src = f"{SF_DIR}"
    for t in ("orders", "lineitem"):
        shutil.copy(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    o = load_table(spark, src, "orders")
    from pyspark.sql import functions as F

    # deterministic plants: duplicate the 3 smallest orderkeys with a null
    # custkey; negate the price of the single largest orderkey
    lo1, lo2, lo3 = (
        r[0]
        for r in duck.execute(
            "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3"
        ).fetchall()
    )
    hi = duck.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    corrupted = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == hi, -5.0).otherwise(F.col("o_totalprice")),
    ).unionByName(
        o.where(F.col("o_orderkey").isin(lo1, lo2, lo3)).withColumn(
            "o_custkey", F.lit(None).cast("long")
        )
    )
    corrupted.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = {
        r["check_name"]: r
        for r in staged_r9.dq_expectations(spark, str(tmp_path)).collect()
    }
    assert rows["orders.o_custkey not_null"]["n_violations"] == 3
    assert not rows["orders.o_custkey not_null"]["passed"]
    assert rows["orders.o_orderkey unique"]["n_violations"] == 3
    assert rows["orders.o_totalprice positive"]["n_violations"] == 1
    # lineitem checks still pass against the untouched copy
    assert rows["lineitem.l_returnflag accepted_values"]["passed"]


def test_dedup_spans_every_row_is_cross_doc(spark, duck):
    """Every emitted span appears in >1 distinct doc, and the registry
    finds the corpus's planted duplicate docs (identical text => their
    full-length spans are shared)."""
    rows = staged_r9.dedup_spans(spark, SF_DIR).collect()
    assert all(r["n_docs"] >= 2 for r in rows)
    assert all(r["n_occur"] >= r["n_docs"] for r in rows)
    dup_docs = duck.execute(
        "SELECT count(*) FROM (SELECT text FROM documents"
        " GROUP BY text HAVING count(*) > 1 AND len(string_split(text,' ')) >= 8)"
    ).fetchone()[0]
    if dup_docs:
        assert rows, "identical multi-doc texts must surface shared spans"


def test_burstiness_function_vs_content_words(spark):
    """Sanity of the statistic itself: for every reported word VMR >= the
    Poisson floor would not hold in general, but VMR must be positive,
    and words concentrated in fewer docs at equal volume must score
    higher (clumpier)."""
    rows = staged_r9.text_burstiness(spark, SF_DIR).collect()
    assert rows
    from .conftest import SF_DIR as _sf  # corpus size for the bounds

    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{_sf}/documents.parquet')"
    ).fetchone()[0]
    for r in rows:
        s = r["n_total"]
        # VMR = (N·Σc² − S²)/(N·S): the extremes over integer per-doc
        # counts with fixed total S are all-ones (Σc² = S, maximally
        # spread) and one-doc (Σc² = S², maximally clumped) — every
        # word's VMR must land inside [1 − S/N, S·(N−1)/N]
        assert 1 - s / n - 1e-6 <= r["vmr"] <= s * (n - 1) / n + 1e-6, r
        # and a word present in >1 doc with repeats is strictly above the
        # all-ones floor
        if r["n_docs"] < s:
            assert r["vmr"] > 1 - s / n, r


def test_jsd_bounds_and_symmetry_decomposition(spark, duck):
    """JSD is bounded in [0, 1] bits, and the shared/exclusive-mass
    decomposition must agree with a literal python recomputation over the
    full union vocabulary for a spot-checked pair."""
    rows = staged_r9.text_js_divergence(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["jsd_bits"] <= 1 + 1e-9, r
    import collections

    a, b = rows[0]["source_a"], rows[0]["source_b"]
    counts: dict[str, collections.Counter] = {
        a: collections.Counter(),
        b: collections.Counter(),
    }
    for src, text in duck.execute(
        f"SELECT source, text FROM documents WHERE source IN ('{a}', '{b}')"
    ).fetchall():
        counts[src].update(text.split(" "))
    na, nb = sum(counts[a].values()), sum(counts[b].values())
    jsd = 0.0
    for w in set(counts[a]) | set(counts[b]):
        p, q = counts[a][w] / na, counts[b][w] / nb
        for x in (p, q):
            if x > 0:
                jsd += 0.5 * x * math.log2(2 * x / (p + q))
    assert math.isclose(rows[0]["jsd_bits"], jsd, abs_tol=5.1e-7)


def test_threshold_sweep_monotone_and_anchored(spark):
    """Counts must be non-increasing in the threshold, and the count at
    dedup_embedding's own cutoff (0.45) must equal that operator's pair
    count (same kernel, same rounding)."""
    from parallel_mapreduce_wordcounting_spark.operators.dedup import dedup_embedding

    rows = sorted(
        staged_r9.sim_threshold_sweep(spark, SF_DIR).collect(),
        key=lambda r: r["threshold"],
    )
    counts = [r["n_pairs"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0  # calibrated to be nonvacuous on the fixture
    at_045 = next(r["n_pairs"] for r in rows if abs(r["threshold"] - 0.45) < 1e-9)
    assert at_045 == dedup_embedding(spark, SF_DIR).count()


def test_triangle_stats_brute_force(spark, duck):
    """Triangle census vs a literal python recomputation of the
    shared-span graph."""
    import itertools

    rows = duck.execute(
        "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), "
        "sh AS (SELECT doc_id, md5(array_to_string(t[i:i+7],' ')) AS h "
        "FROM toks, unnest(generate_series(1, greatest(len(t)-7,0))) AS g(i)) "
        "SELECT h, list(DISTINCT doc_id) FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1"
    ).fetchall()
    edges = set()
    for _, docs in rows:
        for x, y in itertools.combinations(sorted(docs), 2):
            edges.add((x, y))
    adj: dict[int, set[int]] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    tris = sum(
        1
        for x, y in edges
        for z in adj[x] & adj[y]
        if z > y
    )
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    got = staged_r9.graph_triangle_stats(spark, SF_DIR).collect()[0]
    assert got["n_nodes"] == len(adj)
    assert got["n_edges"] == len(edges)
    assert got["n_wedges"] == wedges
    assert got["n_triangles"] == tris


def test_fertility_consistent_with_token_count(spark, duck):
    """Source-level fertility must equal the ratio of the registered
    text_token_count's per-doc sums — same regex, different aggregation."""
    per_doc = duck.execute(
        "SELECT d.source, sum(len(string_split(d.text, ' '))) AS ws, "
        "sum(len(regexp_extract_all(d.text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS bpe "
        "FROM documents d GROUP BY 1"
    ).fetchall()
    got = {
        r["source"]: (r["ws_tokens"], r["bpe_tokens"], r["fertility"])
        for r in staged_r9.text_fertility(spark, SF_DIR).collect()
    }
    for src, ws, bpe in per_doc:
        g = got[src]
        assert (g[0], g[1]) == (ws, bpe)
        assert math.isclose(g[2], bpe / ws, abs_tol=5.1e-7)


def test_anova_brute_force(duck):
    """ANOVA F and eta-squared vs a literal python recomputation."""
    rows = duck.execute(
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    by_grp: dict[str, list[int]] = {}
    for g, q in rows:
        by_grp.setdefault(g, []).append(q)
    all_x = [x for xs in by_grp.values() for x in xs]
    n, k = len(all_x), len(by_grp)
    mu = sum(all_x) / n
    ssb = sum(len(xs) * (sum(xs) / len(xs) - mu) ** 2 for xs in by_grp.values())
    ssw = sum(
        (x - sum(xs) / len(xs)) ** 2 for xs in by_grp.values() for x in xs
    )
    got = duck.execute(staged_r9.STAT_ANOVA_ORACLE).fetchone()
    assert got[0] == k - 1 and got[1] == n - k
    assert math.isclose(got[2], (ssb / (k - 1)) / (ssw / (n - k)), abs_tol=2e-6)
    assert math.isclose(got[3], ssb / (ssb + ssw), abs_tol=2e-6)


def test_split_leakage_consistent_with_split_op(spark):
    """The leakage op's split assignment must be the registered
    split_train_val's, and every reported fraction lands in [0, 1] with
    n_leaked <= n_grams."""
    from parallel_mapreduce_wordcounting_spark.operators.curation_ext import (
        split_train_val,
    )

    splits = {
        r["doc_id"]: r["split"] for r in split_train_val(spark, SF_DIR).collect()
    }
    rows = staged_r9.pipeline_split_leakage(spark, SF_DIR).collect()
    assert {r["split"] for r in rows} <= {"val", "test"}
    for r in rows:
        assert 0 <= r["n_leaked"] <= r["n_grams"]
        assert 0.0 <= r["leakage"] <= 1.0
        # doc counts consistent with the registered split op (only docs
        # with >= 5 words carry grams, so <=)
        n_split = sum(1 for s in splits.values() if s == r["split"])
        assert 0 < r["n_docs"] <= n_split


def test_short_docs_yield_no_spans_not_a_crash(spark, tmp_path):
    """CODE-REVIEW r8 finding 1: a document shorter than k tokens used to
    make sequence(0, size-k) descend to -1 and slice(t, 0, k) throw.
    Short docs must contribute zero spans (the oracle's empty
    generate_series), and both span consumers must run."""
    import shutil

    from pyspark.sql import functions as F

    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    for t in ("documents",):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    d = load_table(spark, SF_DIR, "documents")
    with_short = d.unionByName(
        spark.createDataFrame(
            [(10_000_001, "too short", "en", "srcX", 9),
             (10_000_002, "a b c d e f g", "en", "srcX", 13)],
            d.schema,
        )
    )
    with_short.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    base = {
        r["span_hash"]: (r["n_docs"], r["n_occur"])
        for r in staged_r9.dedup_spans(spark, SF_DIR).collect()
    }
    got = {
        r["span_hash"]: (r["n_docs"], r["n_occur"])
        for r in staged_r9.dedup_spans(spark, str(tmp_path)).collect()
    }
    assert got == base  # sub-k docs are invisible to the registry
    assert staged_r9.graph_triangle_stats(spark, str(tmp_path)).count() == 1


def test_degenerate_groups_yield_null_not_ansi_abort(spark, tmp_path):
    """CODE-REVIEW r8 finding 2: under Spark 4's default ANSI mode a
    zero denominator (constant x, zero variance, empty sample) aborted
    the job with DIVIDE_BY_ZERO while the DuckDB oracle yields NULL.
    try_divide must restore NULL parity on exactly that data."""
    import duckdb

    from pyspark.sql import functions as F

    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    # constant quantity everywhere -> den_x = 0 (linreg slope/r2), zero
    # variance (skew/kurt), zero qty-price covariance denominator (corr)
    li.withColumn("l_quantity", F.lit(7.0)).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    con = duckdb.connect()
    # Spark writes a part-file directory, so DuckDB needs the glob form
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    for fn, oracle in [
        (staged_r9.stat_linreg, staged_r9.STAT_LINREG_ORACLE),
        (staged_r9.agg_skew_kurt, staged_r9.AGG_SKEW_KURT_ORACLE),
        (staged_r9.stat_corr_matrix, staged_r9.STAT_CORR_MATRIX_ORACLE),
    ]:
        res = con.execute(oracle)
        cols = [d[0] for d in res.description]
        compare_frames(fn(spark, str(tmp_path)), res.fetchall(), cols)
    # slope really is NULL (not some fallback number)
    rows = staged_r9.stat_linreg(spark, str(tmp_path)).collect()
    assert rows and all(r["slope"] is None and r["r2"] is None for r in rows)
    skews = staged_r9.agg_skew_kurt(spark, str(tmp_path)).collect()
    assert skews and all(r["skewness"] is None and r["kurtosis"] is None for r in skews)
    # KS against an event type with no rows: NULL D, no abort
    r = staged_r9.stat_ks_test(spark, SF_DIR, "click", "no_such_type").collect()[0]
    assert r["ks_d"] is None


def test_chi2_independence_brute_force(duck):
    """Contingency chi-square vs a literal python recomputation."""
    rows = duck.execute(
        "SELECT event_type, ((epoch_ns(ts) // 1000 // 86400000000) + 3) % 7 + 1, count(*)"
        " FROM events GROUP BY 1, 2"
    ).fetchall()
    obs: dict[tuple, int] = {(t, d): n for t, d, n in rows}
    types = sorted({t for t, _ in obs})
    dows = sorted({d for _, d in obs})
    n = sum(obs.values())
    rt = {t: sum(v for (tt, _), v in obs.items() if tt == t) for t in types}
    ct = {d: sum(v for (_, dd), v in obs.items() if dd == d) for d in dows}
    chi2 = sum(
        (obs.get((t, d), 0) - rt[t] * ct[d] / n) ** 2 / (rt[t] * ct[d] / n)
        for t in types
        for d in dows
        if obs.get((t, d)) is not None
    )
    got = duck.execute(staged_r9.STAT_CHI2_INDEPENDENCE_ORACLE).fetchone()
    assert got[0] == (len(types) - 1) * (len(dows) - 1)
    assert got[1] == n
    assert math.isclose(got[2], chi2, abs_tol=2e-6)


def test_ewma_first_day_equals_actual_and_smooths(spark, duck):
    """A day with no observed history smooths to exactly its own value
    (weights renormalize), and every EWMA lies within the window's
    min..max actuals."""
    daily = dict(
        duck.execute(
            "SELECT epoch_ns(ts) // 1000 // 86400000000 AS day, count(*)"
            " FROM events GROUP BY 1"
        ).fetchall()
    )
    got = {r["day"]: r["ewma"] for r in staged_r9.event_forecast_ewma(spark, SF_DIR).collect()}
    first = min(daily)
    assert math.isclose(got[first], daily[first], abs_tol=1e-6)
    lo, hi = min(daily.values()), max(daily.values())
    for day, ewma in got.items():
        assert lo - 1e-6 <= ewma <= hi + 1e-6


def test_hist2d_margins_match_total(spark, duck):
    """Cell counts must sum to the table row count, and the qty margin
    must match a direct 1-D histogram."""
    rows = staged_r9.agg_hist2d(spark, SF_DIR).collect()
    total = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    assert sum(r["n"] for r in rows) == total
    margin: dict[int, int] = {}
    for r in rows:
        margin[r["qty_bin"]] = margin.get(r["qty_bin"], 0) + r["n"]
    want = dict(
        duck.execute(
            "SELECT CAST(l_quantity AS BIGINT) // 10, count(*) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert margin == want


def test_stickiness_bounds_and_day1_identity(spark, duck):
    """DAU <= MAU always; on the corpus's FIRST day there is no trailing
    history, so MAU == DAU and stickiness == 1."""
    rows = {r["day"]: r for r in staged_r9.event_stickiness(spark, SF_DIR).collect()}
    assert rows
    for r in rows.values():
        assert 1 <= r["dau"] <= r["mau"]
        assert 0.0 < r["stickiness"] <= 1.0
    first = min(rows)
    assert rows[first]["dau"] == rows[first]["mau"]
    assert rows[first]["stickiness"] == 1.0


def test_mann_whitney_matches_scipy_free_brute_force(duck):
    """U and z vs a literal python midrank computation (no scipy in the
    container — the formulas are recomputed from first principles)."""
    rows = duck.execute(
        "SELECT event_type, value FROM events WHERE event_type IN ('click','purchase')"
    ).fetchall()
    a = sorted(v for t, v in rows if t == "click")
    b = sorted(v for t, v in rows if t == "purchase")
    pooled = sorted(a + b)
    # midranks with ties
    rank_of: dict[float, float] = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        for v in {pooled[i]}:
            rank_of[v] = (i + 1 + j) / 2.0
        i = j
    r1 = sum(rank_of[v] for v in a)
    n1, n2 = len(a), len(b)
    u1 = r1 - n1 * (n1 + 1) / 2.0
    # tie correction
    from collections import Counter

    cnt = Counter(pooled)
    ties = sum(c**3 - c for c in cnt.values())
    n = n1 + n2
    sigma = math.sqrt((n1 * n2 / 12.0) * ((n + 1) - ties / (n * (n - 1))))
    z = (u1 - n1 * n2 / 2.0) / sigma
    got = duck.execute(staged_r9.STAT_MANN_WHITNEY_ORACLE).fetchone()
    assert (got[2], got[3]) == (n1, n2)
    assert math.isclose(got[4], u1, abs_tol=1e-9)
    assert math.isclose(got[5], z, abs_tol=2e-6)


def test_mann_whitney_u_symmetry(spark):
    """U_a + U_b == n_a * n_b (the rank-sum identity), via swapped calls."""
    ab = staged_r9.stat_mann_whitney(spark, SF_DIR, "click", "error").collect()[0]
    ba = staged_r9.stat_mann_whitney(spark, SF_DIR, "error", "click").collect()[0]
    assert ab["u_a"] + ba["u_a"] == ab["n_a"] * ab["n_b"]
    assert math.isclose(ab["z"], -ba["z"], abs_tol=2e-6)


def test_decay_score_monotone_in_recency(spark, duck, tmp_path):
    """Planted recency ordering: two users with IDENTICAL values, one
    strictly more recent, must rank in recency order; an all-last-day
    user's score equals their plain value sum exactly; and on the real
    fixture decay can only shrink nonnegative value mass."""
    import datetime

    rows = []
    eid = 0
    # equal TOTAL value (20.0) per user — only the timing differs:
    # u1 all on the last day, u2 all 5 days earlier, u3 split across both
    for day, users in [(10, [1, 1, 3]), (5, [2, 2, 3])]:
        for u in users:
            rows.append(
                (eid, datetime.datetime(2024, 3, day, 12, 0, 0), u,
                 "click", 10.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r["user_id"]: r["decay_score"]
        for r in staged_r9.event_decay_score(spark, str(tmp_path)).collect()
    }
    assert got[1] == 20.0  # all-last-day: no decay at all
    assert got[1] > got[3] > got[2]  # strictly more recent => strictly higher
    assert math.isclose(got[2], 20.0 * 0.9**5, abs_tol=1e-6)
    # fixture-wide: nonnegative and bounded by the undecayed sum
    real = {
        r["user_id"]: r
        for r in staged_r9.event_decay_score(spark, SF_DIR).collect()
    }
    n_users = duck.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    assert len(real) == n_users
    for r in real.values():
        plain = duck.execute(
            "SELECT sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT))/100.0"
            f" FROM events WHERE user_id = {r['user_id']}"
        ).fetchone()[0]
        assert 0 <= r["decay_score"] <= plain + 1e-6


def test_vocab_coverage_monotone_and_saturates(spark, duck):
    """Coverage is non-decreasing in k and reaches 1.0 once k >= |V|."""
    rows = sorted(
        staged_r9.text_vocab_coverage(spark, SF_DIR, ks=(5, 10, 100)).collect(),
        key=lambda r: r["k"],
    )
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)
    vocab = duck.execute(
        "SELECT count(DISTINCT word) FROM (SELECT unnest(string_split(lower(text),' '))"
        " AS word FROM documents) WHERE word <> ''"
    ).fetchone()[0]
    assert vocab <= 100  # fixture vocabulary is tiny by construction
    assert covs[-1] == 1.0


def test_topk_share_bounds_and_full_k(spark, duck):
    """share is in (0, 1]; with k >= |customers| it is exactly 1 and
    topk_revenue equals the exact cents total."""
    (r,) = staged_r9.agg_topk_share(spark, SF_DIR).collect()
    assert 0.0 < r["share"] <= 1.0
    assert r["topk_revenue"] <= r["total_revenue"]
    n_cust = duck.execute("SELECT count(DISTINCT o_custkey) FROM orders").fetchone()[0]
    (full,) = staged_r9.agg_topk_share(spark, SF_DIR, k=n_cust).collect()
    assert full["share"] == 1.0
    assert full["topk_revenue"] == full["total_revenue"]


def test_time_to_convert_positive_and_funnel_ordered(spark):
    """Every emitted lag is strictly positive and the per-user pair is
    (first signup, first purchase after it)."""
    rows = staged_r9.event_time_to_convert(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["purchase_us"] > r["signup_us"]
        assert r["hours_to_convert"] > 0


def test_corpus_report_internal_consistency(spark, duck):
    """The report's rates must reproduce from its own counts, the dup
    count must match dedup_exact's group arithmetic, and the source
    entropy is bounded by log2(|sources|) (balanced mix)."""
    (r,) = staged_r9.pipeline_corpus_report(spark, SF_DIR).collect()
    assert r["n_docs"] == duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    dup = duck.execute(
        "SELECT coalesce(sum(c), 0) FROM (SELECT count(*) AS c FROM documents"
        " GROUP BY text HAVING count(*) > 1)"
    ).fetchone()[0]
    assert r["n_exact_dup_docs"] == dup
    assert math.isclose(r["dup_rate"], dup / r["n_docs"], abs_tol=5.1e-7)
    n_src = duck.execute("SELECT count(DISTINCT source) FROM documents").fetchone()[0]
    assert 0.0 <= r["source_entropy_bits"] <= math.log2(n_src) + 1e-9
    assert 0.0 <= r["short_rate"] <= 1.0 and 0.0 <= r["lang_en_rate"] <= 1.0
