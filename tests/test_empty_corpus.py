"""Empty-corpus robustness: operators must degrade to typed empty (or
guarded one-row) results on zero-row tables with the real schemas — never
an ANSI abort, a None-comparison crash, or an unreadable staging dir.

Round-7 sweep found and fixed six registered + four staged crashes
(agg_percentile_iterative None bounds, join_dpp / sink_parquet_partitioned /
scan_file_stats schema inference over empty partitioned writes,
pipeline_corpus_report 0/0, sim_pq / sim_topk_blocked empty sample fits,
mm_png_meta / mm_wav_meta empty staging globs, text_bpe_train empty argmax).
This test pins the fixed set plus one representative per operator family so
a regression in the shared helpers (loader, exact, staging) surfaces here.
"""

from __future__ import annotations

import pytest

import parallel_mapreduce_wordcounting_spark as engine
from parallel_mapreduce_wordcounting_spark.operators import staged_modules

# every op fixed by the round-7 sweep + one representative per family
KEYS = [
    # fixed in the sweep
    "agg_percentile_iterative",
    "join_dpp",
    "sink_parquet_partitioned",
    "pipeline_corpus_report",
    "sim_pq",
    "sim_topk_blocked",
    # family representatives (sim_topk_blocked also covers the 1-row
    # probe-budget clamp; stat_calibration in STAGED covers zero-width bins)
    "wc_topk",
    "agg_basic",
    "join_star",
    "win_rank",
    "dedup_fuzzy_minhash",
    "dedup_simhash_pairs",
    "text_tfidf",
    "stat_ks_test",
    "stat_mann_whitney",
    "event_ab_test",
    "event_retention",
    "stream_tumbling",
    "tpch_q1",
    "scd2_build",
    "cdc_apply",
    "sample_bootstrap",
]

STAGED = [
    "stat_calibration",
    "mm_png_meta",
    "mm_wav_meta",
    "scan_file_stats",
    "text_bpe_train",
    "sim_sparse_cosine",
    "stat_auc",
    "event_survival",
    "pipeline_dedup_report",
]


@pytest.fixture(scope="module", params=["empty", "one_row"])
def degenerate_sf(request, tmp_path_factory):
    """Zero-row tables (real schemas) or single-row tables (first row of
    sf0.001 — n=1 hits every n-1 denominator and constant-column branch)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp(f"{request.param}_sf")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        tab = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        if request.param == "empty":
            schema = tab.schema
            tab = pa.table(
                {f.name: pa.array([], type=f.type) for f in schema}, schema=schema
            )
        else:
            tab = tab.slice(0, 1)
        pq.write_table(tab, str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("key", KEYS)
def test_registered_ops_survive_degenerate_corpus(spark, degenerate_sf, key):
    engine.REGISTRY[key].fn(spark, degenerate_sf).collect()  # must not raise


@pytest.mark.parametrize("name", STAGED)
def test_staged_ops_survive_degenerate_corpus(spark, degenerate_sf, name):
    from parallel_mapreduce_wordcounting_spark.operators import staged_r10

    getattr(staged_r10, name)(spark, degenerate_sf).collect()  # must not raise


def _wave_survives_degenerate_corpus(mod):
    @pytest.mark.parametrize("name", [c[0] for c in mod.DEV_CASES])
    def test(spark, degenerate_sf, name):
        getattr(mod, name)(spark, degenerate_sf).collect()  # must not raise

    return test


# One test per wave r11–r41, parametrized over the wave's DEV_CASES names;
# a per-wave function name keeps each case's test ID stable.
for _mod in staged_modules():
    _wave = _mod.__name__.rsplit(".", 1)[1]
    if 11 <= int(_wave.removeprefix("staged_r")) <= 41:
        globals()[f"test_{_wave}_survive_degenerate_corpus"] = (
            _wave_survives_degenerate_corpus(_mod)
        )
