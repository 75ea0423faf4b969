"""Round-11 staged operators (operators/staged_r11.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r11

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r11))
def test_staged_r11_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r11_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r11))


def test_interpolate_masks_nontrivially(duck):
    """The dropout mask must hide BOTH interior days (linear blend path)
    and produce nonzero reconstruction error — otherwise the interpolation
    arm under test is dead code on the fixture."""
    rows = duck.execute(
        f"SELECT count(*), sum(CASE WHEN abs_err > 0 THEN 1 ELSE 0 END) "
        f"FROM ({staged_r11.EVENT_INTERPOLATE_ORACLE})"
    ).fetchone()
    assert rows[0] >= 5 and rows[1] >= 1


def test_reservoir_is_prefix_stable(duck):
    """Bottom-k composability: the bottom-(k/2) of the bottom-k equals the
    global bottom-(k/2) — the property that makes min-wise sampling
    mergeable across partitions/corpora."""
    k = staged_r11._RESERVOIR_K
    inner = staged_r11.SAMPLE_RESERVOIR_ORACLE
    a = duck.execute(
        f"SELECT o_orderkey FROM ({inner}) ORDER BY priority LIMIT {k // 2}"
    ).fetchall()
    b = duck.execute(
        "SELECT o_orderkey FROM (SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR))"
        f" AS priority FROM orders) ORDER BY priority LIMIT {k // 2}"
    ).fetchall()
    assert a == b


def test_bloom_prefilter_is_effective_and_sound(spark, duck):
    """The bloom pass must (a) never drop a true match — verified by the
    oracle parity test — and (b) actually prune: candidate rows between
    bloom and verify stay within a few % of true matches (FPR bound from
    m=2^17 bits, k=3, ~5% build keys)."""
    from pyspark.sql import functions as F
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    sf = SF_DIR
    true_rows = duck.execute(
        "SELECT count(*) FROM lineitem WHERE l_orderkey IN ("
        f"SELECT o_orderkey FROM orders WHERE o_totalprice > {staged_r11._BLOOM_PRICE_MIN})"
    ).fetchone()[0]
    total_rows = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    # rebuild just the prefilter stage (no verify join) to count candidates
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    hv = orders.filter(F.col("o_totalprice") > staged_r11._BLOOM_PRICE_MIN).select(
        "o_orderkey"
    )
    pos = [
        F.pmod(F.xxhash64(F.col("o_orderkey"), F.lit(s)), F.lit(staged_r11._BLOOM_BITS))
        for s in staged_r11._BLOOM_SEEDS
    ]
    bits = hv.select(F.explode(F.array(*pos)).alias("pos")).select(
        F.expr("pos div 32").alias("word"),
        F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("b"),
    )
    bitmap = (
        bits.groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("word"), F.col("bits")))
            ).alias("bm")
        )
    )
    conds = []
    for s in staged_r11._BLOOM_SEEDS:
        p = f"pmod(xxhash64(l_orderkey, {s}), {staged_r11._BLOOM_BITS}L)"
        conds.append(
            f"(shiftright(coalesce(element_at(bm, ({p}) div 32), 0L), "
            f"cast(({p}) % 32 as int)) & 1) = 1"
        )
    cand = (
        li.select("l_orderkey")
        .crossJoin(F.broadcast(bitmap))
        .filter(F.expr(" AND ".join(conds)))
        .count()
    )
    assert cand >= true_rows  # no false negatives
    assert cand < total_rows * 0.2  # prunes the vast majority pre-shuffle
    fpr = (cand - true_rows) / max(1, total_rows - true_rows)
    assert fpr < 0.05, f"bloom FPR {fpr:.4f} out of spec"


def test_geo_join_plan_never_goes_quadratic(spark):
    from parallel_mapreduce_wordcounting_spark.plans import explain_str

    p = explain_str(staged_r11.geo_radius_join(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_hamming_probe_side_is_broadcast(spark):
    from parallel_mapreduce_wordcounting_spark.plans import explain_str

    p = explain_str(staged_r11.sim_hamming_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p  # bounded probe set broadcast
