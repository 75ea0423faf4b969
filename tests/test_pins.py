"""The one pin module (parallel_mapreduce_wordcounting_spark/pins.py).

`pin` must give the same rows as its input with the plan cut to one scan of
the stored rows, on both storage branches; `persisting` must release every
kept frame however its block exits; and no other package module may call
the Spark pinning APIs directly, apart from the listed session-long caches.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from parallel_mapreduce_wordcounting_spark.pins import persisting, pin
from parallel_mapreduce_wordcounting_spark.plans import explain_str

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "parallel_mapreduce_wordcounting_spark"
PIN_APIS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}
#: (module, enclosing function, API) of the direct calls that stay: frames
#: cached for the whole session, a different policy from a pin.
SESSION_CACHES = {
    (f"{PACKAGE.name}/operators/dedup.py", "near_dup_pairs", "cache"),
    (f"{PACKAGE.name}/operators/relational.py", "profile_table", "cache"),
}


def _frame(spark):
    return spark.range(0, 50, numPartitions=3).selectExpr("id", "id % 7 AS m")


def test_pin_local_branch_same_rows_and_checkpoint_scan(spark):
    assert not spark.sparkContext.getCheckpointDir()
    df = _frame(spark)
    pinned = pin(df)
    assert sorted(pinned.collect()) == sorted(df.collect())
    plan = explain_str(pinned)
    assert "Scan ExistingRDD" in plan and "at localCheckpoint" in plan, plan
    assert "Range" not in plan, plan
    rdd = pinned._jdf.queryExecution().analyzed().rdd()
    assert rdd.isCheckpointed() and rdd.getCheckpointFile().isEmpty()


# Runs in its own Spark session: a checkpoint directory cannot be unset on
# a live SparkContext, and the shared test session must keep taking the
# local branch.
_RELIABLE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    from pathlib import Path
    from pyspark.sql import SparkSession
    from parallel_mapreduce_wordcounting_spark.pins import pin

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.checkpoint.dir", sys.argv[1])
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 50, numPartitions=3).selectExpr("id", "id % 7 AS m")
    pinned = pin(df)
    rdd = pinned._jdf.queryExecution().analyzed().rdd()
    out = {
        "same_rows": sorted(pinned.collect()) == sorted(df.collect()),
        "checkpoint_file": rdd.getCheckpointFile().getOrElse(None),
        "cache_empty": spark._jsparkSession.sharedState().cacheManager().isEmpty(),
        # counted while `pinned` is alive: the cleaner may delete the files
        # once the frame is collected
        "written": sum(p.is_file() for p in Path(sys.argv[1]).rglob("part-*")),
    }
    print("RESULT " + json.dumps(out))
    spark.stop()
    """
)


def test_pin_reliable_branch_writes_checkpoint_dir(tmp_path):
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_SCRIPT, str(ckpt)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT ") :])
    assert out["same_rows"]
    assert out["checkpoint_file"] and str(ckpt) in out["checkpoint_file"]
    # the cache pin() holds while the checkpoint is written is released
    assert out["cache_empty"]
    assert out["written"] > 0


def test_persisting_releases_on_normal_exit(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    a, b = _frame(spark), _frame(spark).where("m > 2")
    with persisting() as keep:
        assert keep(a) is a
        keep(b)
        assert a.count() == 50 and b.count() > 0
        assert not cm.isEmpty()
    assert cm.isEmpty()


def test_persisting_releases_on_exception(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="boom"):
        with persisting() as keep:
            keep(_frame(spark)).count()
            assert not cm.isEmpty()
            raise RuntimeError("boom")
    assert cm.isEmpty()


def _pin_api_calls(path: Path) -> list[tuple[str, str, str, int]]:
    """(module, enclosing top-level function, API, line) of every call to a
    Spark pinning API in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    module = path.relative_to(REPO).as_posix()
    calls = []
    for top in tree.body:
        name = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PIN_APIS
            ):
                calls.append((module, name, node.func.attr, node.lineno))
    return calls


def test_only_pins_module_calls_pin_apis():
    calls = [
        call
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "pins.py"
        for call in _pin_api_calls(path)
    ]
    offenders = [
        f"{module}:{line} {fn}: .{api}()"
        for module, fn, api, line in calls
        if (module, fn, api) not in SESSION_CACHES
    ]
    assert not offenders, "pin via pins.pin / pins.persisting:\n" + "\n".join(offenders)
    # the allowlist names only calls that still exist
    assert {c[:3] for c in calls} == SESSION_CACHES
