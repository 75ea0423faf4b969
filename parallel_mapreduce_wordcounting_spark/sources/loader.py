"""Table loader — the single entry point for reading the fixture tables.

Hides the one real environment gotcha (SURVEY.md §7.0): ``events.parquet``
stores ``ts`` as parquet ``INT64 (TIMESTAMP(NANOS,false))``, and how Spark
surfaces that has CHANGED between sandbox rounds:

- rounds 1–3: stock read rejected it (``[PARQUET_TYPE_ILLEGAL]``); the
  legacy nanos-as-long conf yielded ``bigint`` ns values (``div 1000`` →
  lossless µs, the fixture's ns are whole microseconds);
- round 4+: the same read yields ``timestamp_ntz`` (the legacy conf no
  longer applies); ``cast('timestamp')`` under the UTC session timezone is
  value-preserving (probed 2026-08-13: ``unix_micros`` returns the exact µs).

``load_table`` normalizes BOTH forms to a plain ``TimestampType`` so no
downstream operator ever sees the environment difference; ``ts_us`` is the
single µs-extraction choke point (round-4 lesson: 7 hand-written
``unix_micros("ts")`` call sites all broke at once when the type shifted).

At 100 TB the same loader is where partition-pruning-friendly layouts and
schema enforcement would hook in: everything downstream goes through
``load_table`` and never touches ``spark.read`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _configure(spark: SparkSession) -> None:
    # Runtime-settable confs (verified to take effect on an existing session).
    # UTC keeps collected timestamps identical to DuckDB's epoch-naive values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Make the engine importable on Spark's Python workers.

    cloudpickle serializes closures by value but module-level references by
    name — a UDF touching a module global then needs this package on every
    worker's import path, which the driver's session does not guarantee
    (workers inherit neither the driver's sys.path nor its cwd). Shipping a
    zip via addPyFile closes that hole for good; done once per context.

    The zip's temp dir is removed when the interpreter exits, not after
    ``addPyFile``: local-mode executors fetch the file lazily from the
    driver's file server, so it must outlive every job of the context.
    """
    sc = spark.sparkContext
    if getattr(sc, "_pmrwc_pkg_shipped", False):
        return
    import atexit
    import pathlib
    import shutil
    import tempfile
    import zipfile

    pkg_root = pathlib.Path(__file__).resolve().parents[1]
    tmp = tempfile.mkdtemp(prefix="pmrwc_pkg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zpath = pathlib.Path(tmp) / "parallel_mapreduce_wordcounting_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_root.rglob("*.py")):
            z.write(p, f"{pkg_root.name}/{p.relative_to(pkg_root)}")
    sc.addPyFile(str(zpath))
    sc._pmrwc_pkg_shipped = True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with clean Spark types.

    ``events.ts`` is normalized to a plain ``TimestampType`` whatever form
    the environment hands us: ns-longs (legacy conf, rounds 1–3), a
    ``timestamp_ntz`` (round 4+), or an already-clean timestamp (re-written
    test copies). All three conversions are exact under the UTC session tz
    and stay JVM-side / codegen-friendly.
    """
    _configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # ns-as-long form: exact integer µs (fixture ns are whole µs)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            # value-preserving under the UTC session timezone set above
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ts_us(col: str = "ts"):
    """Microseconds-since-epoch as a long, whatever timestamp flavor ``col``
    holds — THE choke point for event-time arithmetic. ``cast('timestamp')``
    is a no-op on TimestampType and exact on TIMESTAMP_NTZ under the UTC
    session tz, so this resolves for every form ``load_table`` can emit."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def ts_day(col: str = "ts", us_per_day: int = 86_400_000_000):
    """FLOOR day bucket from event time — the single day-bucketing choke
    point. ``(us - pmod(us, d)) / d`` floors for negative (pre-epoch)
    microseconds too; a bare ``(us / d).cast('long')`` truncates toward
    zero and shifts pre-epoch days by one. NOTE DuckDB's ``//`` ALSO
    truncates toward zero (``-7 // 2`` → -3; ADVICE r5), so day-bucketing
    oracles must mirror this with ``operators.exact.floor_day_us_sql`` —
    the guarded-modulo floor — never a bare ``// 86400000000``. The
    subtraction makes the numerator an exact multiple of ``d``, so the
    double division is exact for |us| < 2⁵³ (~year 2255)."""
    us = ts_us(col)
    return ((us - F.pmod(us, F.lit(us_per_day))) / F.lit(us_per_day)).cast("long")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so users can run plain
    SQL (``spark.sql(...)``) against the engine — the same table names the
    DuckDB oracle uses (region nation customer supplier part orders lineitem
    events documents embeddings)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sink_parquet(df: DataFrame, path: str) -> None:
    """Write results back out as parquet (the reference writes output files)."""
    df.write.mode("overwrite").parquet(path)
