from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("PMRWC_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        # task slots follow the host's usable cores; shuffle partitions and
        # the default slice count (spark.range / createDataFrame / file
        # splits) stay fixed at 8, so partition-dependent results do not
        # move from host to host
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("pmrwc-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison (mirrors the driver's
    order-insensitive value hash as closely as we can replicate it)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round to <=6 decimals; normalize float noise below that
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def compare_frames(spark_df, duck_rows, duck_cols) -> None:
    """Assert Spark result == DuckDB result: row count, column names,
    order-insensitive multiset of rows with columns sorted by name."""
    s_cols = spark_df.columns
    assert sorted(s_cols) == sorted(duck_cols), (
        f"schema mismatch: spark={sorted(s_cols)} duck={sorted(duck_cols)}"
    )
    from collections import Counter

    order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    d_set = Counter(tuple(_norm(r[i]) for i in order) for r in duck_rows)
    s_order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    s_rows = spark_df.collect()
    s_set = Counter(tuple(_norm(r[i]) for i in s_order) for r in s_rows)
    assert sum(s_set.values()) == sum(d_set.values()), (
        f"row count: spark={sum(s_set.values())} duck={sum(d_set.values())}"
    )
    if s_set != d_set:
        diff_s = list((s_set - d_set).items())[:5]
        diff_d = list((d_set - s_set).items())[:5]
        raise AssertionError(
            f"value mismatch\n only-spark: {diff_s}\n only-duck:  {diff_d}"
        )


_COMPARED: dict[tuple[str, str], Exception | None] = {}


def run_compare(spark, duck, key: str, sf_dir: str = SF_DIR) -> None:
    """Check a registered key against its oracle (see `_compare`). The
    outcome is memoized per (key, sf_dir) for the session: a staged wave's
    parity test and test_oracle_parity check the same registry pair, so the
    second caller passes or re-raises the first outcome instead of running
    the same Spark job again."""
    memo = (key, sf_dir)
    if memo not in _COMPARED:
        try:
            _compare(spark, duck, key, sf_dir)
            _COMPARED[memo] = None
        except Exception as err:
            _COMPARED[memo] = err
    if (err := _COMPARED[memo]) is not None:
        raise err


def _compare(spark, duck, key: str, sf_dir: str) -> None:
    import parallel_mapreduce_wordcounting_spark as engine

    spec = engine.REGISTRY[key]
    sdf = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        # rows-only: just check it runs deterministically
        n1 = sdf.count()
        n2 = spec.fn(spark, sf_dir).count()
        assert n1 == n2 >= 0
        return
    res = duck.execute(spec.oracle)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    compare_frames(sdf, rows, cols)


def wave_keys(module) -> list[str]:
    """The registered keys whose fn is defined in a staged wave `module`."""
    import parallel_mapreduce_wordcounting_spark as engine

    name = module.__name__
    return sorted(k for k, s in engine.REGISTRY.items() if s.fn.__module__ == name)


def assert_nonvacuous(spark, duck, keys) -> None:
    """Each staged op must return real rows on the fixture (a vacuously
    empty result would pass parity while testing nothing): the oracle must
    count rows, or, for a rows-only key, the Spark side must."""
    import parallel_mapreduce_wordcounting_spark as engine

    for key in keys:
        spec = engine.REGISTRY[key]
        if spec.oracle is None:
            assert spec.fn(spark, SF_DIR).count() > 0, key
        else:
            n = duck.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
            assert n > 0, key
