#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plans of the headline queries
with the scale-relevant features called out. Run after changing any headline
operator: python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("PMRWC_TEST_SF_DIR", "/root/testdata/sf0.001")

# key -> what to look for in the plan (rendered as the section intro)
SHOWCASE = {
    "tpch_q6": "Pushdown showcase: every predicate reaches the parquet scan "
    "(PushedFilters) and only the 4 referenced columns load (ReadSchema).",
    "wc_topk": "Top-k as a heap (TakeOrderedAndProject), never a global sort; "
    "partial aggregation before the single word shuffle.",
    "join_star": "nation broadcast; the lineitem-orders join is the only "
    "big shuffle; AQE decides customer at runtime.",
    "tpch_q9": "Five-way join: filtered part + nation broadcast-hinted, "
    "orders/supplier AQE-decided (shuffle joins at 100 TB with no code change).",
    "join_dpp": "Dynamic partition pruning: the dimension filter becomes a "
    "runtime subquery that prunes fact partitions before the scan.",
    "cdc_apply": "Changelog compaction as a max_by hash aggregate with "
    "map-side partial combine - the shuffle moves one candidate row per key, "
    "not every version.",
    "dedup_fuzzy_minhash": "LSH-bucketed near-dup: candidates come only from "
    "band-bucket collisions; exact-Jaccard verification touches candidates only.",
    "pipeline_sft_pack": "Composed SFT packing: quality gate and exact dedup "
    "fuse into the first scan; packing is the distributed prefix-sum (per-bucket "
    "windows + a bucket-count-sized offset broadcast), no global-order window "
    "over the data stream.",
    "stat_ks_test": "Two-sample KS with NO global sort: per-value group-by, "
    "bucket-local running counts in parallel, and a bucket-count-sized offset "
    "broadcast - the distributed prefix-sum replacing the classic single-"
    "partition ORDER BY window.",
    "pipeline_split_leakage": "Composed split + n-gram overlap (round-9 "
    "form): the hash split rides the scan and the WHOLE gram stream "
    "(train + eval) crosses the wire exactly once - groupBy(gram) folds "
    "train-membership and per-eval-split occurrence counts into one "
    "map-side-combined aggregate; per-split doc counts ride an "
    "explode-free scan joined as a 2-row broadcast (the original form "
    "scanned+exploded twice and shuffled train grams twice).",
    "graph_triangle_stats": "Duplicate-graph triangle census (round-10 "
    "form): the shared capped edge derivation (staged_r9._span_edges - "
    "window-count posting cap riding the pairing's single span-hash "
    "shuffle, 60-bit long span key, groupBy reusing the window "
    "partitioning), pairs explode JVM-side from the bounded arrays, and "
    "the cached edge set feeds degrees + the 3-way triangle equi-join. "
    "The (degree, id) re-orientation is now ADAPTIVE: applied only when "
    "n_wedges > 8*n_edges (the census computes the decision statistic "
    "anyway), so hub-skewed graphs get the degeneracy-bounded wedge "
    "fan-out while near-regular graphs skip two joins (idle-box A/B: "
    "-31% at sf0.1). The plan below is the fixture's (unoriented) path.",
    "dedup_ngram_jaccard": "Exact n-gram Jaccard pairs: the full "
    "AllPairs/PPJoin prefix filter on a shingle dictionary. The dictionary "
    "is a word count (groupBy(shingle) -> df) numbered by ONE global sort "
    "on (df ASC, shingle), so a shingle's id is its rank and each "
    "document's sorted id array is its rarest-first order; only the "
    "|a|-ceil(tau*|a|)+1 prefix of that array enters the pairing "
    "self-join (lossless superset theorem), a size filter and a per-pair "
    "positional bound prune pairs that cannot reach tau, and one Arrow "
    "kernel (MapInArrow) counts the exact overlap of the sorted id sets. "
    "A boilerplate hub shingle sorts last, leaves every prefix, and fans "
    "out ZERO pairs (measured: flat 15 s at 60k hub docs where the "
    "unfiltered core extrapolates to 1.8e9 candidates). The shingle frame "
    "and the id sets are pinned, so the plan roots in checkpointed scans "
    "(unpinned, each consumer branch re-ran the scan + shingle build; A/B "
    "16.2 -> 7.6 s at sf0.1).",
    "dedup_containment": "Containment pairs: ONE-SIDED AllPairs prefix "
    "filter on the Jaccard engine's dictionary - the emission condition "
    "equals overlap >= ceil(tau*min(|A|,|B|)), so the smaller side's "
    "prefix (the leading slice of its sorted ids, whose order is the "
    "(df ASC, shingle) rank; the same prefix_postings builder the "
    "Jaccard engine uses) joins the FULL id postings of the larger side "
    "(no global-order agreement needed, lossless), and the same Arrow "
    "kernel as the Jaccard engine counts the exact overlap of the sorted "
    "id sets. The shingle frame and the id sets are pinned, so the plan "
    "roots in checkpointed scans, and candidate dedup rides the (tiny) "
    "output instead of a mid-pipeline exchange (multiplicity bounded by "
    "the tau=0.8 prefix length, ~0.2*|doc|; round-12 A/B at sf0.1: "
    "mid-pipeline distinct 5.0 s vs 3.3 s).",
    "mm_ppm_decode": "Registered multimodal decode eats REAL files "
    "(round-12 form, r11 verdict item 6): a binaryFile scan over the "
    "pre-materialized deterministic fixture dir (sources/binfix.py "
    "manifest check - no per-run driver synthesis loop) feeds one "
    "Arrow-batched mapInPandas raster kernel; at 100 TB the same plan "
    "reads a blob store and only the O(1)-per-image census shuffles.",
    "mm_wav_energy": "Audio feature extraction over real PCM16 WAV "
    "blobs: binaryFile scan of the pre-materialized fixture (manifest "
    "check, no driver synthesis) -> one mapInPandas numpy kernel; "
    "header parse stays JVM-side, nothing but the per-file census "
    "leaves the executor.",
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pmrwc-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import parallel_mapreduce_wordcounting_spark as engine
    from parallel_mapreduce_wordcounting_spark.plans import explain_str

    out = [
        "# PLANS — headline physical plans (generated by scripts/gen_plans.py)",
        "",
        f"Explained at {SF} with AQE initial plans; the scale-relevant plan",
        "features the tests assert (tests/test_plans.py) are visible inline.",
        "Regenerate after changing a headline operator.",
        "",
    ]
    for key, blurb in SHOWCASE.items():
        p = explain_str(engine.REGISTRY[key].fn(spark, SF), "formatted")
        # keep the tree + the first scan detail block; drop the long tail of
        # per-node details to stay readable
        tree, _, details = p.partition("\n\n")
        keep = [tree]
        for block in details.split("\n\n"):
            if "PushedFilters" in block or "ReadSchema" in block:
                keep.append(block)
                break
        body = "\n\n".join(keep)
        # strip codegen ids noise
        body = re.sub(r" \[codegen id : \d+\]", "", body)
        out += [f"## {key}", "", blurb, "", "```", body.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
