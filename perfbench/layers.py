"""Per-layer measurement of one workload, taken from outside the engine.

Three sources, none of which instruments the engine's own code:

- spans around nested calls into the layers' public functions
  (``load_table`` -> ``tokens`` -> ``wc_counts`` -> ``wc_topk``, and
  ``shingle_sets``), each materialised to Spark's ``noop`` sink; a layer's
  self time is its span minus the span of the call it wraps, so a layer with
  little work of its own can read slightly negative;
- Spark's status store, read per job group, for jobs, stages, task time,
  shuffle, spill and input;
- the SQL metrics of the final adaptive plan of the returned DataFrame, for
  row counts inside a stage and the Python-worker metrics.

Every traced iteration runs both operator families: word count over the
workload's corpus, and the Jaccard dedup over ``dedup_dir`` (the whole corpus
for ``dedup_jaccard``, its first docs otherwise). The workload's own query
supplies the ``registry`` and ``spark`` metrics; ``spark.input_rows`` counts
rows read back from the query's own pins too. Stage input bytes are not
reported: under Spark 4.1 they count only a few KB per parquet file read.
"""

from __future__ import annotations

import re
import statistics
import time
from itertools import count
from pathlib import Path

WC_KEY = "wc_topk"
DEDUP_KEY = "dedup_ngram_jaccard"
#: The candidate self-join of the dedup engine joins prefix postings on the
#: shingle id column ``sid``.
_SID_JOIN = re.compile(r"Join \[[^\]]*\bsid#")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def plan_nodes(df) -> list[tuple[str, str, dict]]:
    """(node name, one-line description, SQL metrics) for every node of the
    executed plan of ``df``, descending through adaptive query stages. Nodes
    are listed in pre-order, so each node's subtree follows it."""
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        metrics = {
            kv._1(): kv._2().value() for kv in _scala_iter(node.metrics())
        }
        out.append((node.nodeName(), node.simpleString(100), metrics))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(_scala_iter(node.children()))
    return out


class StatusStore:
    """Job-group aggregates from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._groups = count()

    def group(self, name: str) -> str:
        """Start a new job group; later jobs of this thread belong to it."""
        gid = f"perfbench-{next(self._groups)}-{name}"
        self.sc.setJobGroup(gid, name)
        return gid

    def jobs(self, gid: str) -> list[int]:
        self._bus.waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stages(self, gids: list[str]) -> dict:
        ids = set()
        for gid in gids:
            for j in self.jobs(gid):
                ids.update(self.sc.statusTracker().getJobInfo(j).stageIds)
        agg = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
             "shuffle_records", "fetch_wait_ms", "spill_bytes", "input_rows"),
            0,
        )  # fmt: skip
        # the 5-argument form: (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); null statuses means all
        for s in _scala_iter(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        ):
            if s.stageId() not in ids or s.status().toString() == "SKIPPED":
                continue
            agg["stages"] += 1
            agg["tasks"] += s.numCompleteTasks()
            agg["run_ms"] += s.executorRunTime()
            agg["cpu_ns"] += s.executorCpuTime()
            agg["gc_ms"] += s.jvmGcTime()
            agg["shuffle_write_bytes"] += s.shuffleWriteBytes()
            agg["shuffle_records"] += s.shuffleWriteRecords()
            agg["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            agg["spill_bytes"] += s.diskBytesSpilled()
            agg["input_rows"] += s.inputRecords()
        return agg


def profile_query(spark, store: StatusStore, fn, data_dir: Path) -> dict:
    """Construct and collect one query under two job groups; return its wall
    times, jobs, stage aggregates and plan nodes."""
    construct = store.group("construct")
    t0 = time.perf_counter()
    df = fn(spark, str(data_dir))
    t1 = time.perf_counter()
    run = store.group("run")
    rows = df.collect()
    t2 = time.perf_counter()
    construct_jobs = len(store.jobs(construct))
    return {
        "construct_s": t1 - t0,
        "iter_s": t2 - t0,
        "rows": rows,
        "construct_jobs": construct_jobs,
        "jobs": construct_jobs + len(store.jobs(run)),
        "stages": store.stages([construct, run]),
        "plan": plan_nodes(df),
    }


def _metric_sum(plan, name: str, where=lambda node, desc: True) -> int:
    return sum(m.get(name, 0) for node, desc, m in plan if where(node, desc))


def _verify_input_rows(plan) -> int:
    """Rows into the Arrow verify kernel: the output of the nearest node under
    the ``MapInArrow`` node that counts rows."""
    for i, (node, _, _) in enumerate(plan):
        if node == "MapInArrow":
            for _, _, m in plan[i + 1 :]:
                if "numOutputRows" in m:
                    return m["numOutputRows"]
    return 0


def traced_iteration(
    spark, store: StatusStore, engine, wl, data_dir: Path, dedup_dir: Path
) -> dict:
    from parallel_mapreduce_wordcounting_spark.operators.dedup import shingle_sets
    from parallel_mapreduce_wordcounting_spark.operators.wordcount import tokens
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    reg = engine.REGISTRY
    d = str(data_dir)
    loader = store.group("loader")
    scan = timed(lambda: noop(load_table(spark, d, "documents")))
    store.group("spans")
    tok = timed(lambda: noop(tokens(spark, d)))
    counts = timed(lambda: noop(reg["wc_counts"].fn(spark, d)))
    topk = timed(lambda: noop(reg[WC_KEY].fn(spark, d)))
    shingle = timed(lambda: noop(shingle_sets(spark, str(dedup_dir))))
    wc = profile_query(spark, store, reg[WC_KEY].fn, data_dir)
    dd = profile_query(spark, store, reg[DEDUP_KEY].fn, dedup_dir)
    main = dd if wl.key == DEDUP_KEY else wc

    st = main["stages"]
    loaded = store.stages([loader])
    cores = spark.sparkContext.defaultParallelism
    tokens_n = _metric_sum(wc["plan"], "numOutputRows", lambda n, _: n == "Generate")
    candidates = _verify_input_rows(dd["plan"])
    pairs = len(dd["rows"])
    return {
        "registry.construct_s": main["construct_s"],
        "registry.construct_jobs": main["construct_jobs"],
        "spark.jobs": main["jobs"],
        "spark.stages": st["stages"],
        "spark.tasks": st["tasks"],
        "spark.task_run_s": st["run_ms"] / 1e3,
        "spark.task_cpu_s": st["cpu_ns"] / 1e9,
        "spark.gc_s": st["gc_ms"] / 1e3,
        "spark.core_util": st["run_ms"] / 1e3 / (main["iter_s"] * cores),
        "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
        "spark.shuffle_records": st["shuffle_records"],
        "spark.fetch_wait_s": st["fetch_wait_ms"] / 1e3,
        "spark.spill_bytes": st["spill_bytes"],
        "spark.input_rows": st["input_rows"],
        "spark.python_s": _metric_sum(main["plan"], "pythonTotalTime") / 1e3,
        "spark.python_bytes_sent": _metric_sum(main["plan"], "pythonDataSent"),
        "spark.python_bytes_recv": _metric_sum(main["plan"], "pythonDataReceived"),
        "loader.scan_s": scan,
        "loader.input_rows": loaded["input_rows"],
        "wordcount.map_s": tok - scan,
        "wordcount.agg_s": counts - tok,
        "wordcount.topk_s": topk - counts,
        "wordcount.tokens": tokens_n,
        "wordcount.combine_ratio": wc["stages"]["shuffle_records"] / max(tokens_n, 1),
        "dedup.shingle_s": shingle,
        "dedup.join_rows": _metric_sum(
            dd["plan"], "numOutputRows", lambda _, desc: bool(_SID_JOIN.search(desc))
        ),
        "dedup.candidates": candidates,
        "dedup.pairs": pairs,
        "dedup.verify_yield": pairs / max(candidates, 1),
        "trace.iter_s.p50": main["iter_s"],
        "_rows": {WC_KEY: wc["rows"], DEDUP_KEY: dd["rows"]},
    }


def summarize(iterations: list[dict]) -> dict:
    """Median of each per-layer metric over the traced iterations."""
    keys = [k for k in iterations[0] if not k.startswith("_")]
    return {k: statistics.median(it[k] for it in iterations) for k in keys}
