"""parallel_mapreduce_wordcounting_spark — a PySpark-native analytics engine.

A from-scratch, DataFrame-first re-expression of the capability surface of
the reference repo ``tangweichang/parallel_mapreduce_wordCounting`` (a
parallel MapReduce word-count engine; see SURVEY.md §0 — the reference tree
is empty, so the surface is reconstructed from canonical MapReduce word-count
semantics), extended with the LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) and relational/streaming coverage
mandated by the build brief.

Design principles (SURVEY.md §1.2, §4):
- DataFrame/SQL first: declare logical plans, let Catalyst + AQE pick the
  physical strategy (partial aggregation, broadcast joins, top-k via
  TakeOrderedAndProject, parquet column pruning / predicate pushdown).
- UDFs are the slow path: built-in ``pyspark.sql.functions`` everywhere the
  semantics allow; Arrow-batched pandas UDFs where Python is unavoidable.
- Every operator is registered in :mod:`.registry` with a DuckDB oracle SQL
  string so correctness is machine-checkable (the t2 contract).
- Designed for 100 TB: driver actions (``collect()``, ``count()``) fetch
  bounded-size results only — metadata, fixpoint probes, k-row summaries,
  never data rows; shuffles only on declared keys, dimension tables
  broadcast, O(n²) ops have a blocked two-phase scale path (see
  operators/similarity.py, operators/dedup.py).
- One lineage policy: frames are materialised and lineage-truncated
  through :mod:`.pins` (``pin`` / ``persisting``) only.
"""

from .registry import B_PREFIXES, REGISTRY, register, queries, oracle_sql  # noqa: F401
from .sources.loader import load_table  # noqa: F401

# Import operator modules for their registration side effects.
from .operators import (  # noqa: F401,E402
    wordcount,
    relational,
    joins,
    aggregates,
    windows,
    scalar_fns,
    text,
    dedup,
    similarity,
    streaming_batch,
    udfs,
    multimodal,
    tpch,
    tpch_ext,
    tpch_full,
    windows_ext,
    aggregates_ext,
    subqueries,
    scalar_fns_ext,
    text_ext,
    events_analytics,
    similarity_ext,
    staged,
    curation_ext,
    warehouse,
    chunking,
    scale_ops,
    graph,
    staged_modules,
)

# Each staged_r* wave module with DEV_CASES registers itself on import.
for _mod in staged_modules():
    for _key, _fn, _oracle in getattr(_mod, "DEV_CASES", ()):
        register(_key, oracle=_oracle, tier="B" if _key.startswith(B_PREFIXES) else "C")(_fn)
del _mod, _key, _fn, _oracle

from . import pipelines  # noqa: F401,E402  (corpus-curation composition API)

__all__ = ["REGISTRY", "register", "queries", "oracle_sql", "load_table", "pipelines"]
__version__ = "0.1.0"
