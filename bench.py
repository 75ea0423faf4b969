#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The query set mirrors BASELINE.md so the 2× gate is apples-to-apples:
wc_topk, join_star, agg_basic, stream_tumbling, sim_topk_cosine — plus the
engine's own scale paths (sim_topk_blocked, dedup_fuzzy_minhash), two
TPC-H shapes (tpch_q1 scan-agg, tpch_q9 five-way join), and per-round
headliners reported for visibility (round 6: dedup_lines,
pipeline_rag_index; round 7: cdc_apply, agg_percentile_iterative;
round 8: pipeline_sft_pack). Timing is median of 5 runs after one warm-up,
collect() included, session startup excluded (matching BASELINE.md's
method).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_KEYS = [
    "wc_topk",
    "join_star",
    "agg_basic",
    "stream_tumbling",
    "sim_topk_cosine",
    "sim_topk_blocked",
    "dedup_fuzzy_minhash",
    "tpch_q1",
    "tpch_q9",
    # round-6 LLM-pipeline headliners (not in BASELINE.md; reported for
    # visibility — cross-round totals are comparable only per-query)
    "dedup_lines",
    "pipeline_rag_index",
    # round-7 headliners: CDC compaction (max_by aggregate) and the exact
    # iterative quantiles (multi-pass scale form — its time is mostly fixed
    # per-job overhead, reported honestly)
    "cdc_apply",
    "agg_percentile_iterative",
    # round-8 headliner: composed SFT packing pipeline (quality gate →
    # exact dedup → distributed prefix-sum packing)
    "pipeline_sft_pack",
    # statistics/data-quality wave headliners (registered with the
    # staged_r8/r9 waves): no-global-sort KS statistic, span-graph triangle
    # census, and the composed split + n-gram-overlap leakage check
    "stat_ks_test",
    "graph_triangle_stats",
    "pipeline_split_leakage",
    # round-11 headliner: containment dedup, re-benched on the new
    # one-sided AllPairs prefix filter (hub-quadratic removed)
    "dedup_containment",
    # round-12 headliner: exact ColBERT-style MaxSim reranking, re-benched
    # on the array-HOF projection form (pair-stream exchange removed,
    # 15.6 s -> 2.25 s at sf0.1)
    "sim_maxsim",
]

# Pinned per-query shuffle parallelism (VERDICT r7 item 6): r6→r7 showed
# ±27% drift on UNTOUCHED operators (sim_topk_blocked, dedup_fuzzy_minhash,
# stream_tumbling) because shuffle-partition count floated with the launch
# env ($SPARK_GRAFT_CPUS) and session contention. A fixed count makes the
# physical plan identical across rounds, so cross-round deltas measure code
# changes, not the harness. 32 matches the driver's local[32] layout; the
# default applies to every key unless overridden here.
BENCH_SHUFFLE_PARTITIONS: dict[str, int] = {}
DEFAULT_SHUFFLE_PARTITIONS = 32

# Host-noise canary (r9 verdict item 7, formalizing what rounds 8-9 did by
# hand in SCALE.md): the stock-Spark wc_topk form — verbatim from
# scripts/baseline_probe.py — timed inside the SAME bench session before
# and after the query loop. The reference is a PAIR because the two probes
# measure different JVM states (before = JIT-cold session, after = fully
# warm); each compares only against its like-state reference, taken with
# this exact protocol on the round-10 near-idle box (loadavg 0.8). An
# emitted inflation >> 1 flags a co-tenant-loaded box and says "read the
# RATIOS this round, not the raw seconds". It measures the HOST, not
# baseline parity — parity stays the job of scripts/baseline_probe.py run
# standalone.
STOCK_PROBE_IDLE_REF = {"before": 0.622, "after": 0.254}


def _stock_probe(spark, sf_dir: str) -> float:
    """Median of 3 (after 1 warm-up) of the stock wc_topk probe."""
    import statistics
    import time

    from pyspark.sql import functions as F

    def q():
        return (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .count()
            .orderBy(F.desc("count"), "word")
            .limit(10)
        )

    q().collect()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        q().collect()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def _driver_memory() -> str:
    """Half of the host's MemTotal, capped at 16 GB (what a 32-core,
    125 GiB reference host ran with): a fixed 16g overcommits a 15 GB host."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb // 2048, 16 * 1024)}m"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")  # local[*] is legal too

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pmrwc-bench")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import parallel_mapreduce_wordcounting_spark as engine

    load_before = os.getloadavg()
    stock_before = _stock_probe(spark, sf_dir)

    # sim_topk_blocked's REGISTERED form became a certification census in
    # round 10 (it additionally runs the exact top-20 as its recall truth);
    # the bench keeps timing the IVF PAIR KERNEL itself so the number stays
    # comparable with BASELINE.md and with every prior round
    from parallel_mapreduce_wordcounting_spark.operators.similarity import (
        sim_topk_blocked_pairs,
    )

    fn_overrides = {"sim_topk_blocked": sim_topk_blocked_pairs}

    # Per-query host-noise evidence (r11 verdict item 5: BENCH_r11's
    # endpoint-only canary passed both probes around a mid-run load burst
    # that doubled the long queries — inflation 0.827 on a visibly
    # contended run). Three layers, enough to adjudicate a hot run from
    # the JSON alone, no judge re-run needed:
    #   - every query records its 5 raw run times (a burst shows up as
    #     non-uniform spread, not just a shifted median),
    #   - 1-minute loadavg is sampled before/after each query's loop,
    #   - the stock probe is INTERLEAVED every _PROBE_EVERY queries, each
    #     compared against the warm ("after") idle reference.
    _PROBE_EVERY = 6
    timings: dict[str, float] = {}
    evidence: dict[str, dict] = {}
    interleaved: list[dict] = []
    for i, key in enumerate(BENCH_KEYS):
        if i and i % _PROBE_EVERY == 0:
            interleaved.append(
                {
                    "before_key": key,
                    "stock_wc_topk": _stock_probe(spark, sf_dir),
                    "load1": round(os.getloadavg()[0], 2),
                }
            )
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(BENCH_SHUFFLE_PARTITIONS.get(key, DEFAULT_SHUFFLE_PARTITIONS)),
        )
        fn = fn_overrides.get(key, engine.REGISTRY[key].fn)
        load1_before = os.getloadavg()[0]
        fn(spark, sf_dir).collect()  # warm-up (JIT, code cache, file listing)
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        timings[key] = round(statistics.median(runs), 3)
        evidence[key] = {
            "runs": [round(r, 3) for r in runs],
            "load1_before": round(load1_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
        }

    stock_after = _stock_probe(spark, sf_dir)
    load_after = os.getloadavg()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    inflation = round(
        (
            stock_before / STOCK_PROBE_IDLE_REF["before"]
            + stock_after / STOCK_PROBE_IDLE_REF["after"]
        )
        / 2,
        3,
    )
    max_interleaved = round(
        max(
            (p["stock_wc_topk"] / STOCK_PROBE_IDLE_REF["after"] for p in interleaved),
            default=0.0,
        ),
        3,
    )
    # Full host-noise evidence (r11 verdict item 5). Shipped as a SIDECAR
    # file plus an earlier stdout line — NOT on the final line: the driver
    # tail-captures only ~2000 chars of stdout, and r12's evidence-laden
    # single line outgrew that window, truncating the headline fields away
    # (BENCH_r12.json "parsed": null — r12 verdict item 1). The LAST line
    # below is the compact driver contract and must stay < ~1500 chars.
    full_evidence = {
        "kind": "bench_evidence",
        # host-noise canary: same-session stock probe vs its stable
        # idle-box reference — inflation>>1 means the box was busy
        # and per-query RATIOS are the graded signal, not seconds
        "calib": {
            "stock_wc_topk_before": stock_before,
            "stock_wc_topk_after": stock_after,
            "idle_ref": STOCK_PROBE_IDLE_REF,
            "inflation": inflation,
            # mid-run probes (warm-state: compare to idle_ref 'after');
            # a burst the endpoint pair straddles unseen shows up here
            # as one hot sample
            "interleaved": interleaved,
            "max_interleaved_inflation": max_interleaved,
        },
        # per-query raw runs + 1-min loadavg brackets: the data needed to
        # read RATIOS for exactly the hot queries when any canary sample
        # is inflated
        "query_evidence": evidence,
        "loadavg": {
            "before": [round(x, 2) for x in load_before],
            "after": [round(x, 2) for x in load_after],
        },
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_evidence.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full_evidence, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line below still carries it
    print(json.dumps(full_evidence))
    print(
        json.dumps(
            {
                "metric": "headline query latency, median of 5 (warm), collect() included",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # two scalar canaries so a hot run is flaggable from the
                # compact line alone; full evidence in BENCH_evidence.json
                # and the stdout line above
                "calib_inflation": inflation,
                "max_interleaved_inflation": max_interleaved,
                "evidence": "BENCH_evidence.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
