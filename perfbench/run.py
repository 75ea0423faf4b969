"""Benchmark of the word-count and text-analytics engine.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 16 --trace 0

Run from the repository root. One workload runs in a closed loop, one query
at a time, on ``local[<cores>]``; every iteration's rows are checked against
the registry's DuckDB oracle. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones (see ``layers.py``). Earlier stdout lines carry the host, the Spark
settings, the corpus statistics and the raw samples.

Workloads (corpus.py), each generated from ``--seed``; each is the control
for the other's mechanism:

- ``wc_zipf``: ``wc_topk`` over Zipf(1.1) text from a 1M-word vocabulary.
  The combiner passes about a tenth of the tokens to the shuffle, so scan,
  map, combine, shuffle and reduce all do real work.
- ``dedup_jaccard``: ``dedup_ngram_jaccard`` over docs drawn from the
  fixture's 31-word vocabulary, with planted near-duplicate clusters: the
  prefix self-join, ``distinct``, the Arrow verify kernel and the jobs the
  query fires while it is built.

Work files (corpora, oracle rows, Spark scratch) go under ``.bench_build/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import corpus as corpora
import layers

ROOT = Path(__file__).resolve().parent.parent
PKG = "parallel_mapreduce_wordcounting_spark"
WORK = ROOT / ".bench_build" / "perfbench"
#: Session set-ups per run; ``setup_s`` is their median. The first launches
#: the JVM; the others rebuild the SparkSession on it.
SETUPS = 3
#: Untimed warm iterations before the window. Iteration times fall for the
#: first ~10 warm iterations (the JIT compiles the planner and the generated
#: code), so a window that starts cold varies with how fast that goes.
WARMUP_S = 8
#: Docs of a word-count corpus that the traced run's dedup path reads.
DEDUP_SLICE_DOCS = 1_500


def host_info() -> dict:
    mem_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def cpu_steal_s() -> float:
    """CPU time the hypervisor has given to other guests, summed over CPUs:
    host contention that the guest's load average does not show."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def spark_conf(host: dict) -> dict:
    """Settings derived from the host: all cores, an eighth of memory for the
    driver heap, two shuffle partitions per core.

    The heap starts at its full size: a heap that grows during the run made
    the first tens of iterations slower and peak RSS vary from run to run."""
    cores = host["nproc"]
    heap = f"{host['mem_total_mb'] // 8}m"
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.pyspark.python": sys.executable,
    }


def build_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def import_engine():
    """Import the engine afresh, so each set-up pays the import."""
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    return importlib.import_module(PKG)


def warm_up(spark, fn, corpus, ok_flags: list) -> None:
    end = time.perf_counter() + WARMUP_S
    while time.perf_counter() < end:
        ok_flags.append(run_once(spark, fn, corpus.dir, corpus.expected)[1])


def run_once(spark, fn, data_dir: Path, expected) -> tuple[float, bool]:
    """One iteration: build the query and collect it. Returns the wall time
    and whether the rows match the oracle."""
    t0 = time.perf_counter()
    try:
        rows = fn(spark, str(data_dir)).collect()
    except Exception:  # counted as failed; the loop goes on
        traceback.print_exc()
        return time.perf_counter() - t0, False
    return time.perf_counter() - t0, corpora.canonical(rows) == expected


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def vmhwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    workers = descendants(pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if Path(f"/proc/{w}").exists()]
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, 9)
        except ProcessLookupError:
            pass


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def measure(args, wl, corpus, conf) -> tuple[dict, int, int]:
    """The untraced run: set up SETUPS times, warm up, then loop for
    ``seconds``."""
    setups, ok_flags = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(conf)
        engine = import_engine()
        _, ok = run_once(spark, engine.REGISTRY[wl.key].fn, corpus.dir, corpus.expected)
        setups.append(time.perf_counter() - t0)
        ok_flags.append(ok)
    fn = engine.REGISTRY[wl.key].fn
    warm_up(spark, fn, corpus, ok_flags)
    iters = []
    end = time.perf_counter() + args.seconds
    while time.perf_counter() < end:
        dt, ok = run_once(spark, fn, corpus.dir, corpus.expected)
        iters.append(dt)
        ok_flags.append(ok)
    pid = jvm_pid(spark)
    rss_mb = sum(vmhwm_kb(p) for p in [pid, *descendants(pid)]) / 1024
    shutdown(spark)
    p50 = statistics.median(iters)
    emit({"samples": {"setup_s": setups, "iter_s": iters}})
    metrics = {
        "setup_s": statistics.median(setups),
        "iter_s.p50": p50,
        "tokens_per_s": corpus.stats["tokens"] / p50,
        "peak_rss_mb": rss_mb,
    }
    return metrics, len(ok_flags), ok_flags.count(False)


def measure_traced(args, wl, corpus, conf) -> tuple[dict, int, int]:
    """The traced run: after a warm-up, for ``seconds``, an untraced
    iteration (the reference for the tracing overhead) alternating with a
    traced one."""
    # word count reads the whole corpus; dedup reads it whole only on its own
    # workload, else the first docs, which keeps the Jaccard join small
    dirs = {layers.WC_KEY: corpus.dir, layers.DEDUP_KEY: corpus.dir}
    if wl.key != layers.DEDUP_KEY:
        dirs[layers.DEDUP_KEY] = corpus.slice_dir(DEDUP_SLICE_DOCS)
    sql = importlib.import_module(PKG).oracle_sql()
    expected = {
        key: corpus.expected
        if key == wl.key
        else corpora.canonical(corpora.oracle_rows(sql[key], d))
        for key, d in dirs.items()
    }
    spark = build_session(conf)
    engine = import_engine()
    store = layers.StatusStore(spark)
    fn = engine.REGISTRY[wl.key].fn

    def traced_iteration():
        it = layers.traced_iteration(
            spark, store, engine, wl, corpus.dir, dirs[layers.DEDUP_KEY]
        )
        ok_flags.extend(
            corpora.canonical(rows) == expected[key] for key, rows in it["_rows"].items()
        )
        return it

    ok_flags = []
    warm_up(spark, fn, corpus, ok_flags)
    traced_iteration()  # warms the layer calls too
    # untraced and traced iterations alternate, so both see one JVM state
    untraced, traced = [], []
    end = time.perf_counter() + args.seconds
    while time.perf_counter() < end or not traced:
        dt, ok = run_once(spark, fn, corpus.dir, corpus.expected)
        untraced.append(dt)
        ok_flags.append(ok)
        traced.append(traced_iteration())
    shutdown(spark)
    metrics = layers.summarize(traced)
    metrics["trace.overhead_s"] = metrics["trace.iter_s.p50"] - statistics.median(untraced)
    emit(
        {
            "samples": {
                "untraced_iter_s": untraced,
                "traced": [
                    {k: v for k, v in it.items() if k != "_rows"} for it in traced
                ],
            }
        }
    )
    return metrics, len(ok_flags), ok_flags.count(False)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(corpora.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Spark scratch, the engine's temp files and the Python workers all stay
    # inside the checkout; the JVM and its workers inherit this environment.
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    wl = corpora.WORKLOADS[args.workload]
    host = host_info()
    conf = spark_conf(host)
    load_before, steal_before = os.getloadavg()[0], cpu_steal_s()
    corpus = corpora.prepare(
        wl, args.seed, importlib.import_module(PKG).oracle_sql()[wl.key], WORK / "corpus"
    )
    emit({"host": host, "spark_conf": conf, "workload": wl.__dict__, "corpus": corpus.stats})

    run = measure_traced if args.trace else measure
    metrics, attempted, failed = run(args, wl, corpus, conf)
    emit(
        {
            "host_load1": {"before": load_before, "after": os.getloadavg()[0]},
            "cpu_steal_s": cpu_steal_s() - steal_before,
            "fail_frac": failed / attempted,
        }
    )
    units = json.loads((ROOT / "BENCHMARK.json").read_text())
    group = "per_layer" if args.trace else "end_to_end"
    unit_of = {m["name"]: m["unit"] for m in units[group]}
    emit(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in unit_of.items()},
        }
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
