"""Round-8 additions: the graph_triangle_stats per-span posting-list cap
(VERDICT r7 item 5 — the documented-but-uncoded hub guard) and the
dedup_lsh_cosine registered census form. Value parity vs DuckDB is covered
by tests/test_oracle_parity.py; these pin what the oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_mapreduce_wordcounting_spark.operators import staged_r8, staged_r9

from .conftest import SF_DIR


def _write_docs(spark, tmp_path, texts):
    """A minimal documents.parquet with the fixture schema."""
    rows = [
        (i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_triangle_stats_caps_planted_mega_span(spark, tmp_path):
    """A boilerplate span shared by MANY docs (the 10⁶-doc legal footer)
    must be excluded from pairwise evidence once its posting list exceeds
    max_postings — otherwise the span self-join emits a quadratic clique
    (the 100 TB scale-killer the r7 verdict flagged). With the hub capped,
    only the genuine 3-doc clique (a distinct duplicated passage) remains:
    3 nodes, 3 edges, 3 wedges, 1 triangle, clustering 1.0."""
    hub = "common boilerplate footer sentence repeated verbatim everywhere today"
    clique = "a genuinely duplicated passage of exactly eight tokens here"
    texts = [f"unique opener number {i} word filler {hub}" for i in range(6)]
    texts += [f"distinct preamble {j} {clique}" for j in ("x", "y", "z")]
    _write_docs(spark, tmp_path, texts)

    # uncapped: the hub clique dominates (6 hub docs pair all-pairs)
    raw = staged_r9.graph_triangle_stats(
        spark, str(tmp_path), max_postings=1_000
    ).collect()[0]
    assert raw["n_nodes"] == 9 and raw["n_edges"] == 18  # C(6,2)+C(3,2)

    # capped below the hub's 6 postings but above the clique's 3: the hub
    # vanishes from the duplicate graph, the real clique survives intact
    capped = staged_r9.graph_triangle_stats(
        spark, str(tmp_path), max_postings=4
    ).collect()[0]
    assert tuple(capped) == (3, 3, 3, 1, 1.0)


def test_triangle_stats_default_cap_leaves_fixture_unchanged(spark):
    """The registered default (128) must not alter the fixture census —
    the r7 hash-green verdict still attests the current code (fixture
    posting lists top out at 4 members)."""
    base = staged_r9.graph_triangle_stats(spark, SF_DIR).collect()
    wide = staged_r9.graph_triangle_stats(spark, SF_DIR, max_postings=10**9).collect()
    assert base == wide


def test_triangle_oracle_applies_the_same_cap(spark, duck, tmp_path):
    """The oracle's hot-span CTE mirrors the operator's cap, so fn-vs-SQL
    parity holds even on a corpus WITH a planted hub at the registered
    threshold (here: 129 docs sharing one span > the 128 default)."""
    import parallel_mapreduce_wordcounting_spark as engine

    hub = "shared footer line with exactly eight useful tokens inside"
    texts = [f"doc {i} prefix tokens {hub}" for i in range(129)]
    texts += [f"distinct preamble {j} zero duplication here at all okay" for j in range(3)]
    _write_docs(spark, tmp_path, texts)

    got = staged_r9.graph_triangle_stats(spark, str(tmp_path)).collect()[0]
    # every pair among the 129 hub docs shares ONLY the capped span -> no
    # edges (and SUM over the empty degree table is NULL on both engines)
    assert tuple(got) == (0, 0, None, 0, None)

    con_sql = engine.REGISTRY["graph_triangle_stats"].oracle.replace(
        "FROM documents",
        f"FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')",
    )
    oracle = duck.execute(con_sql).fetchone()
    assert tuple(got) == tuple(oracle)


def test_geo_radius_join_finds_antimeridian_pairs(spark, duck, tmp_path):
    """r8 review finding 2 (+ root cause): the 3×3 cell neighborhood must
    WRAP longitude cells across ±180, and the coordinate generator must
    actually cover the globe (the pre-r8 single-hash form packed all
    longitudes into [-180°, -144°], so the antimeridian was unreachable
    and the wrap untestable). custkeys 117744/1951008 hash to lons
    -179.984/+179.968 at lat ≈ -59.45 — 3.24 km apart across the seam;
    the unwrapped join can never form the candidate."""
    import parallel_mapreduce_wordcounting_spark as engine
    from parallel_mapreduce_wordcounting_spark.operators.staged_r11 import (
        geo_radius_join,
    )

    keys = [117744, 1951008, 5, 1000, 200000]  # seam pair + far-away noise
    spark.createDataFrame([(k,) for k in keys], "c_custkey long").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    got = {
        (r.cust_a, r.cust_b): r.dist_km
        for r in geo_radius_join(spark, str(tmp_path)).collect()
    }
    assert (117744, 1951008) in got, got
    assert got[(117744, 1951008)] <= 4.0
    sql = engine.REGISTRY["geo_radius_join"].oracle.replace(
        "FROM customer",
        f"FROM read_parquet('{tmp_path}/customer.parquet/*.parquet')",
    )
    want = {(a, b): d for a, b, d in duck.execute(sql).fetchall()}
    assert got == want


def test_bootstrap_ci_empty_slice_matches_oracle(spark, duck, tmp_path):
    """r8 review finding 1: with zero purchase rows the Spark side used to
    emit n_rows=NULL (F.first over an empty crossJoin) where the oracle's
    scalar count subquery emits 0 — both sides must agree on the
    degenerate row."""
    import parallel_mapreduce_wordcounting_spark as engine
    from parallel_mapreduce_wordcounting_spark.operators.staged_r10 import (
        stat_bootstrap_ci,
    )
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    ev = load_table(spark, SF_DIR, "events").where(
        F.col("event_type") != "purchase"
    )
    # round-trip through parquet so fn and oracle read the same bytes;
    # write ts back as int64 ns like the fixture (unix_micros, not a
    # timestamp->long cast, which truncates to SECONDS)
    ev.withColumn("ts", F.unix_micros(F.col("ts")) * 1000).write.parquet(
        str(tmp_path / "events.parquet")
    )
    (got,) = stat_bootstrap_ci(spark, str(tmp_path)).collect()
    assert got["n_rows"] == 0 and got["mean"] is None
    sql = engine.REGISTRY["stat_bootstrap_ci"].oracle.replace(
        "FROM events",
        f"FROM read_parquet('{tmp_path}/events.parquet/*.parquet')",
    )
    (want,) = duck.execute(sql).fetchall()
    assert (got["n_rows"], got["mean"], got["ci_lo"], got["ci_hi"]) == (
        want[0],
        want[2],
        want[3],
        want[4],
    )


def test_mmr_single_vector_corpus_returns_empty(spark, tmp_path):
    """r8 review finding 4: a corpus holding ONLY the query vector has no
    candidates; the greedy loop must return the oracle's empty result, not
    raise ValueError on max() of an empty pool."""
    from parallel_mapreduce_wordcounting_spark.operators.staged_r10 import (
        sim_mmr_diversify,
    )

    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    assert sim_mmr_diversify(spark, str(tmp_path)).count() == 0


def test_staged_module_discovery_sees_every_wave_on_disk():
    """ADVICE r7: the staged_r* module list was hand-duplicated in four
    places; a missed entry silently dropped those operators from the plan
    audit. Discovery must enumerate exactly the staged_rN.py files on disk,
    in wave order, and each module must expose at least one operator-shaped
    callable."""
    import re
    from pathlib import Path

    from parallel_mapreduce_wordcounting_spark import operators
    from parallel_mapreduce_wordcounting_spark.operators import (
        operator_fns,
        staged_modules,
    )

    on_disk = sorted(
        int(m.group(1))
        for p in Path(operators.__path__[0]).glob("staged_r*.py")
        if (m := re.fullmatch(r"staged_r(\d+)\.py", p.name))
    )
    mods = staged_modules()
    assert [int(m.__name__.rsplit("_r", 1)[1]) for m in mods] == on_disk
    assert on_disk == sorted(on_disk)
    for mod in mods:
        fns = operator_fns(mod)
        assert fns, f"{mod.__name__} exposes no operator-shaped callables"
        for name, fn in fns.items():
            assert not name.startswith("_")
            assert callable(fn)
        # every DEV_CASES op must be discovered (the -> DataFrame filter
        # must never hide a real operator from the audit)...
        for key, fn, *_ in getattr(mod, "DEV_CASES", []):
            assert fn.__name__ in operator_fns(
                __import__(fn.__module__, fromlist=["_"])
            ), f"{key} hidden from discovery"
    # ...while tuple-returning helpers that merely MATCH the (spark,
    # sf_dir) signature stay out (markov_transitions crashed the plan
    # audit's explain with 'tuple' has no attribute '_sc')
    from parallel_mapreduce_wordcounting_spark.operators import staged_r14

    assert "markov_transitions" not in operator_fns(staged_r14)


def test_winnow_survives_short_docs(spark, tmp_path):
    """r8 review (r14–r17 wave): docs shorter than the k+w−1 winnowing
    guarantee used to crash the transform (Spark's sequence(1, 0) descends
    and slice(_, 0, k) throws); they must instead be invisible — exactly
    the oracle's empty generate_series — while long shared runs still pair
    with recall 1.0 in the eval."""
    from parallel_mapreduce_wordcounting_spark.operators.staged_r15 import (
        dedup_winnow,
    )
    from parallel_mapreduce_wordcounting_spark.operators.staged_r17 import (
        dedup_eval_winnow,
    )

    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8-token run
    texts = [
        "",  # empty doc
        "one",  # 1 token
        "two tokens here",  # 3 tokens
        "four tokens right here now six",  # 6 tokens (< guarantee 7)
        f"doc five prefix {run}",
        f"other preamble x {run}",
    ]
    _write_docs(spark, tmp_path, texts)
    pairs = {
        (r.doc_a, r.doc_b) for r in dedup_winnow(spark, str(tmp_path)).collect()
    }
    assert (4, 5) in pairs  # the planted 8-token shared run is found
    (ev,) = dedup_eval_winnow(spark, str(tmp_path)).collect()
    assert ev["n_truth"] == 1 and ev["recall_r"] == 1.0


def test_lsh_census_attests_execution(spark):
    """The registered dedup_lsh_cosine form must always emit exactly one
    non-vacuous row (VERDICT r7 item 1: the raw pair stream at τ=0.9 gave
    a 0-row rows-only verdict indistinguishable from a broken operator),
    with the exact-verify invariant visible as false_positives == 0 and
    the fixture recall above the Charikar-collision floor the test-suite
    pins for the raw operator."""
    (row,) = staged_r8.dedup_lsh_cosine_census(spark, SF_DIR).collect()
    assert row["n_exact_pairs"] > 0  # fixture truth is non-empty at τ=0.45
    assert row["false_positives"] == 0  # every emitted pair exact-verified
    assert row["recall_ge_floor"] is True  # realized recall clears 0.8
    assert row["n_eval"] > 0


def test_lsh_census_eval_slice_bounds_cost(spark, monkeypatch):
    """Above the eval budget the census must run on the deterministic
    md5-h60 slice (the 100 TB cost bound: exact recall truth is quadratic,
    so it is measured on a bounded eval set). Shrinking the budget below
    the fixture size forces the staging path; the census must still emit
    one attesting row with the exact-verify invariant intact, and a repeat
    call must reuse the staged slice deterministically."""
    from parallel_mapreduce_wordcounting_spark.operators import staged_r8 as mod

    monkeypatch.setattr(mod, "_LSH_CENSUS_EVAL_N", 100)
    (row,) = mod.dedup_lsh_cosine_census(spark, SF_DIR).collect()
    assert row["false_positives"] == 0
    assert 0 < row["n_eval"] <= 150  # the slice really bounded the eval set
    assert row["recall_ge_floor"] in (True, False)
    # sliced truth is a subset of the full table's pair universe
    (full,) = mod.dedup_lsh_cosine_census(spark, SF_DIR).collect()  # reuse path
    assert tuple(full) == tuple(row)  # deterministic slice -> identical census


def test_every_dev_case_is_registered_as_declared():
    """The package root registers each staged wave from its DEV_CASES:
    every entry must land in REGISTRY with the same fn object, the same
    oracle and the prefix-derived tier, and the rows-only
    text_compression_ratio must stay rows-only."""
    from parallel_mapreduce_wordcounting_spark.operators import staged_modules
    from parallel_mapreduce_wordcounting_spark.registry import B_PREFIXES, REGISTRY

    seen = []
    for mod in staged_modules():
        for key, fn, oracle in getattr(mod, "DEV_CASES", ()):
            spec = REGISTRY[key]
            assert spec.fn is fn, key
            assert spec.oracle == oracle, key
            assert spec.tier == ("B" if key.startswith(B_PREFIXES) else "C"), key
            seen.append(key)
    assert len(seen) == len(set(seen))
    assert REGISTRY["text_compression_ratio"].oracle is None
