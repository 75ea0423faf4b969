"""Loader timestamp-normalization contract (round-4 lesson).

The sandbox's parquet TIMESTAMP(NANOS) handling has changed between rounds —
ns-longs under the legacy conf in rounds 1–3, ``timestamp_ntz`` from round 4.
``load_table`` must hand every downstream operator a plain TimestampType and
``ts_us`` must resolve on whatever the environment serves, so the next
environment shift breaks THIS test, not seven operators."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from parallel_mapreduce_wordcounting_spark.sources.loader import load_table, ts_us

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

_SF_ROOT = os.path.dirname(SF_DIR.rstrip("/"))
_ALL_SF = sorted(
    os.path.join(_SF_ROOT, d)
    for d in os.listdir(_SF_ROOT)
    if d.startswith("sf") and os.path.exists(os.path.join(_SF_ROOT, d, "events.parquet"))
)


@pytest.mark.parametrize("sf_dir", _ALL_SF, ids=[os.path.basename(p) for p in _ALL_SF])
def test_events_ts_is_plain_timestamp(spark, sf_dir):
    schema = load_table(spark, sf_dir, "events").schema
    assert schema["ts"].dataType == TimestampType(), (
        f"{sf_dir}: load_table must normalize events.ts to TimestampType, "
        f"got {schema['ts'].dataType.simpleString()} — the environment's "
        f"TIMESTAMP(NANOS) surface changed again; extend load_table"
    )


def test_ts_us_resolves_and_matches_duckdb(spark, duck):
    """ts_us() must yield the exact µs-since-epoch values DuckDB reads from
    the same parquet — value preservation, not just type shape."""
    got = {
        r.event_id: r.us
        for r in load_table(spark, SF_DIR, "events")
        .select("event_id", ts_us("ts").alias("us"))
        .orderBy("event_id")
        .limit(20)
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) FROM events ORDER BY event_id LIMIT 20"
        ).fetchall()
    )
    assert got == want


def test_ts_us_handles_every_flavor(spark):
    """The choke point itself: ts_us must resolve on TIMESTAMP, NTZ, and a
    long-to-timestamp conversion — every form load_table can ever emit."""
    base = spark.createDataFrame([(1_704_067_200_000_000,)], "us long")
    flavors = {
        "timestamp": base.select(F.timestamp_micros("us").alias("ts")),
        "timestamp_ntz": base.select(
            F.timestamp_micros("us").cast("timestamp_ntz").alias("ts")
        ),
    }
    for name, df in flavors.items():
        [row] = df.select(ts_us("ts").alias("us")).collect()
        assert row.us == 1_704_067_200_000_000, name


def test_ts_day_floors_pre_epoch_and_matches_oracle_form(spark, duck):
    """Spark's ts_day FLOORS; DuckDB's ``//`` truncates toward zero (ADVICE
    r5: -7 // 2 is -3 there). Pin that ts_day and the shared oracle mirror
    floor_day_us_sql agree on pre-epoch, boundary, and post-epoch
    microseconds — a bare ``// 86400000000`` oracle would be one day late
    for every pre-epoch row."""
    from parallel_mapreduce_wordcounting_spark.operators.exact import (
        floor_day_us_sql,
    )
    from parallel_mapreduce_wordcounting_spark.sources.loader import ts_day

    d = 86_400_000_000
    probes = [-2 * d - 1, -d - 1, -d, -d + 1, -1, 0, 1, d - 1, d, d + 1]
    df = spark.createDataFrame([(us,) for us in probes], "us long").select(
        "us", F.timestamp_micros("us").alias("ts")
    )
    got = {r.us: r.day for r in df.select("us", ts_day("ts").alias("day")).collect()}
    want_sql = {
        us: day
        for us, day in duck.execute(
            f"SELECT us, {floor_day_us_sql('us')} FROM "
            f"(SELECT unnest({probes}::BIGINT[]) AS us)"
        ).fetchall()
    }
    want = {us: us // d for us in probes}  # python // floors
    assert got == want
    assert want_sql == want


# Its own interpreter: the shipped package's temp dir goes away at exit.
_SHIP_SCRIPT = textwrap.dedent(
    """
    import glob, os, sys, tempfile
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    docs = load_table(spark, sys.argv[1], "documents")
    # a Python UDF makes a worker import the shipped zip
    n = docs.select(F.udf(lambda s: len(s), "int")("text")).count()
    shipped = glob.glob(os.path.join(tempfile.gettempdir(), "pmrwc_pkg_*"))
    spark.stop()
    print("SHIPPED", n, len(shipped))
    """
)


def test_shipped_package_dir_removed_at_exit(tmp_path):
    """The zip ``load_table`` ships to the workers lives in a ``pmrwc_pkg_*``
    temp dir for the whole session and is gone once the interpreter exits."""
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH", "")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SHIP_SCRIPT, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("SHIPPED ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    _, rows, shipped = lines[-1].split()
    assert int(rows) > 0 and int(shipped) == 1  # the dir existed while in use
    assert not list(tmp_path.glob("pmrwc_pkg_*"))
