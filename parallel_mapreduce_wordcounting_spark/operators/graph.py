"""Graph analytics over the near-duplicate document graph: PageRank
centrality — the iterative-propagation shape beyond connected components
(dedup.min_label_propagation / star_contraction compute membership; this
computes IMPORTANCE, e.g. which duplicate family member is the hub the
others orbit, a useful canonical-pick signal when min-id is too arbitrary).

Determinism contract (same trick as sim_kmeans): fixed iteration count,
uniform init, and per-iteration 9-dp rank rounding on BOTH engines, so
Spark and the DuckDB oracle walk identical trajectories and the final
ranks hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from ..registry import register
from .dedup import (
    JACCARD_THRESHOLD,
    SHINGLES_CTE,
    dedup_fuzzy_minhash,
    oracle_jaccard_pairs_select,
)

PR_ITERS = 3
PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    base = (
        f"{SHINGLES_CTE}, "
        f"pairs AS ({oracle_jaccard_pairs_select(JACCARD_THRESHOLD)}), "
        "edges AS (SELECT da AS u, db AS v FROM pairs "
        "UNION ALL SELECT db, da FROM pairs), "
        "deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u), "
        "nc AS (SELECT count(DISTINCT u) AS n FROM edges), "
        "r0 AS (SELECT u AS node, round(1.0 / (SELECT n FROM nc), 9) AS r "
        "FROM (SELECT DISTINCT u FROM edges))"
    )
    for k in range(1, PR_ITERS + 1):
        base += (
            f", r{k} AS (SELECT e.v AS node, "
            f"round({1 - PR_DAMP} / (SELECT n FROM nc) + "
            f"{PR_DAMP} * sum(p.r / deg.d), 9) AS r "
            f"FROM edges e JOIN r{k - 1} p ON e.u = p.node "
            "JOIN deg ON deg.u = e.u GROUP BY e.v)"
        )
    return base + (
        f" SELECT node AS doc_id, r AS pagerank FROM r{PR_ITERS}"
    )


@register("graph_pagerank", oracle=_pagerank_oracle(), tier="B")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Page et al. 1999; damping 0.85, 3 fixed iterations,
    uniform init) over the symmetric near-dup pair graph from
    dedup_fuzzy_minhash. No dangling-node term is needed: every node in an
    edge list has degree >= 1 by construction.

    Scale: per iteration one join of the edge list against the rank table
    on the source node plus one map-side-combined sum on the destination —
    the textbook iterative-dataflow plan. Node count rides along as a
    broadcast 1-row aggregate (no collect). A production loop pins the
    rank table every few iterations to truncate lineage
    (dedup.min_label_propagation shows the pattern); at 3 unrolled
    iterations the plan stays shallow enough not to need it."""
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = pairs.select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
    )
    # r14: a pin instead of cache — the cached form kept the full
    # MinHash-engine subtree inside EVERY consumer's logical plan (deg, the
    # node count, the rank init, and each unrolled iteration), growing the
    # audited plan string to 220 KB and charging each action real planning
    # time; the checkpoint truncates lineage so consumers plan against an
    # ExistingRDD scan (plans/r14/graph_pagerank_{before,after}.txt: 220 KB
    # → ~8 KB). Same materialize-once semantics.
    edges = pin(edges)
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    nc = F.broadcast(edges.agg(F.countDistinct("u").alias("n")))
    rank = (
        edges.select("u")
        .distinct()
        .crossJoin(nc)
        .select(F.col("u").alias("node"), F.round(1.0 / F.col("n"), 9).alias("r"))
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(rank, edges.u == rank.node)
            .join(deg.withColumnRenamed("u", "du"), F.col("u") == F.col("du"))
            .groupBy("v")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        rank = contrib.crossJoin(nc).select(
            F.col("v").alias("node"),
            F.round((1 - PR_DAMP) / F.col("n") + PR_DAMP * F.col("s"), 9).alias("r"),
        )
    return rank.select(F.col("node").alias("doc_id"), F.col("r").alias("pagerank"))
