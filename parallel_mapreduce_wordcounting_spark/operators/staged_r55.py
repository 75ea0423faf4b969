"""Serving-cache / schema-inference / dialect-sniff / randomness wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r55.py holds the independent property checks.

Contents:

- ``text_prefix_cache_value`` — how much prefill compute a
  prefix-KV-cache would save on this corpus: documents group by their
  first-8-token prefix, every group member after the first reuses the
  cached prefix, and the census reports shared-prefix docs, cacheable
  tokens and the savings fraction of total corpus tokens. THE
  measurement behind LLM-serving prefix caching and dataset
  prompt-dedup decisions (templated corpora score high; this random
  fixture scores ~0.7%, which is itself the finding).
- ``join_fk_discovery`` — foreign-key CANDIDATE discovery by value-set
  containment: for each (child column, parent column) hypothesis, the
  fraction of distinct child values contained in the parent key set —
  1.0 flags a candidate, and the deliberately wrong hypothesis
  (o_orderkey ⊆ c_custkey) scores 0.1 and is rejected. The
  schema-inference sibling of ``dq_referential`` (which VERIFIES known
  FKs; this one proposes them on an undocumented lake).
- ``scan_csv_dialect_sniff`` — CSV dialect detection from raw bytes:
  three staged files carry the same orders slice under comma /
  semicolon / tab delimiters, and the sniffer picks, per file, the
  candidate whose per-line occurrence count is CONSISTENT (min = max)
  and positive across every line — the csv.Sniffer heuristic as two
  groupBy aggregates over length-difference expressions, zero Python
  in the scan. Step zero of ingesting an undocumented dump, before
  ``scan_csv_quarantine`` can even be configured.
- ``stat_bartels_rank`` — Bartels' rank von Neumann ratio test of
  randomness on daily purchase revenue: RVN = n·Σ(rᵢ−rᵢ₊₁)² /
  (n·Σr² − (Σr)²) over integer doubled midranks (≈2 under randomness,
  <2 trending, >2 oscillating). The rank-based (outlier-immune)
  sibling of stat_runs_test (signs) and stat_durbin_watson
  (residuals); exact integers until one division.

Exactness doctrine: prefix/token counts, containment counts, per-line
delimiter counts and rank sums are exact integers end-to-end;
savings / containment / RVN spend one division on exact integers and
round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- prefix-cache savings census -----------------------------------------------------------

_PREFIX_TOKENS = 8

TEXT_PREFIX_CACHE_VALUE_ORACLE = (
    "WITH p AS ("
    "  SELECT doc_id, len(string_split(lower(text), ' ')) AS toks, "
    "  array_to_string(list_slice(string_split(lower(text), ' '), 1, "
    f"  {_PREFIX_TOKENS}), ' ') AS prefix"
    "  FROM documents"
    f"  WHERE len(string_split(lower(text), ' ')) >= {_PREFIX_TOKENS}"
    "), g AS ("
    "  SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs FROM p"
    "  GROUP BY prefix"
    "), tot AS ("
    "  SELECT CAST(sum(toks) AS BIGINT) AS total_toks, "
    "  CAST(count(*) AS BIGINT) AS n FROM p"
    ") SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs, "
    "CAST(count(*) AS BIGINT) AS n_prefixes, "
    "CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT)"
    "  AS docs_in_shared, "
    f"CAST(sum(CASE WHEN n_docs > 1 THEN (n_docs - 1) * {_PREFIX_TOKENS}"
    "  ELSE 0 END) AS BIGINT) AS cached_tokens, "
    f"round(CAST(sum(CASE WHEN n_docs > 1 THEN (n_docs - 1)"
    f" * {_PREFIX_TOKENS} ELSE 0 END) AS DOUBLE)"
    " / (SELECT total_toks FROM tot), 6) AS savings_frac "
    "FROM g"
)


def text_prefix_cache_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy(prefix) over
    an 8-token slice expression + a 1-row census — the prefix key is
    tiny and hash-partitions evenly unless the corpus is template-heavy,
    which is exactly when you want this number most (salt the groupBy
    if one template dominates)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    p = d.select(
        F.size(ws).alias("toks"),
        F.array_join(F.slice(ws, 1, _PREFIX_TOKENS), " ").alias("prefix"),
    ).where(F.col("toks") >= _PREFIX_TOKENS)
    g = p.groupBy("prefix").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = p.agg(
        F.sum("toks").cast("long").alias("total_toks"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    shared = F.col("n_docs") > 1
    return (
        g.agg(
            F.count(F.lit(1)).cast("long").alias("n_prefixes"),
            F.sum(F.when(shared, F.col("n_docs")).otherwise(0))
            .cast("long")
            .alias("docs_in_shared"),
            F.sum(
                F.when(shared, (F.col("n_docs") - 1) * _PREFIX_TOKENS)
                .otherwise(0)
            )
            .cast("long")
            .alias("cached_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_docs"),
            "n_prefixes",
            "docs_in_shared",
            "cached_tokens",
            F.round(
                F.col("cached_tokens").cast("double") / F.col("total_toks"),
                6,
            ).alias("savings_frac"),
        )
    )


# --- FK-candidate discovery by value containment --------------------------------------------

_FK_HYPOTHESES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    # deliberate decoy: an FK-shaped hypothesis that is false
    ("orders", "o_orderkey", "customer", "c_custkey"),
)

JOIN_FK_DISCOVERY_ORACLE = (
    "WITH m AS ("
    "  SELECT 'orders' AS t, 'o_custkey' AS c, CAST(o_custkey AS BIGINT) AS v"
    "    FROM orders"
    "  UNION ALL SELECT 'lineitem', 'l_partkey', l_partkey FROM lineitem"
    "  UNION ALL SELECT 'lineitem', 'l_suppkey', l_suppkey FROM lineitem"
    "  UNION ALL SELECT 'orders', 'o_orderkey', o_orderkey FROM orders"
    "  UNION ALL SELECT 'customer', 'c_custkey', c_custkey FROM customer"
    "  UNION ALL SELECT 'part', 'p_partkey', p_partkey FROM part"
    "  UNION ALL SELECT 'supplier', 's_suppkey', s_suppkey FROM supplier"
    "), dv AS (SELECT t, c, v FROM m GROUP BY 1, 2, 3), "
    "pairs(child_tbl, child_col, parent_tbl, parent_col) AS (VALUES "
    + ", ".join(
        f"('{ct}','{cc}','{pt}','{pc}')" for ct, cc, pt, pc in _FK_HYPOTHESES
    )
    + ") SELECT p.child_tbl || '.' || p.child_col AS child, "
    "p.parent_tbl || '.' || p.parent_col AS parent, "
    "CAST((SELECT count(*) FROM dv WHERE t = p.child_tbl"
    "  AND c = p.child_col) AS BIGINT) AS child_ndv, "
    "CAST((SELECT count(*) FROM dv a JOIN dv b ON b.v = a.v"
    "  AND b.t = p.parent_tbl AND b.c = p.parent_col"
    "  WHERE a.t = p.child_tbl AND a.c = p.child_col) AS BIGINT)"
    "  AS contained_ndv, "
    "round(CAST((SELECT count(*) FROM dv a JOIN dv b ON b.v = a.v"
    "  AND b.t = p.parent_tbl AND b.c = p.parent_col"
    "  WHERE a.t = p.child_tbl AND a.c = p.child_col) AS DOUBLE)"
    " / (SELECT count(*) FROM dv WHERE t = p.child_tbl"
    "  AND c = p.child_col), 6) AS containment, "
    "CAST((SELECT count(*) FROM dv WHERE t = p.child_tbl"
    "  AND c = p.child_col) AS BIGINT)"
    " = CAST((SELECT count(*) FROM dv a JOIN dv b ON b.v = a.v"
    "  AND b.t = p.parent_tbl AND b.c = p.parent_col"
    "  WHERE a.t = p.child_tbl AND a.c = p.child_col) AS BIGINT)"
    "  AS fk_candidate "
    "FROM pairs p"
)


def join_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Each hypothesis costs one distinct on the
    child column + one left-semi join against the (distinct) parent key
    set — both hash-partitioned on the value; at lake scale the same
    sweep runs off column-store NDV sketches first and only exact-joins
    the survivors. The decoy row pins the discriminative power (it must
    score far below 1)."""
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in ("orders", "lineitem", "customer", "part", "supplier")
    }
    rows = []
    for ct, cc, pt, pc in _FK_HYPOTHESES:
        child = tables[ct].select(F.col(cc).cast("long").alias("v")).distinct()
        parent = tables[pt].select(F.col(pc).cast("long").alias("v")).distinct()
        child_ndv = child.agg(F.count(F.lit(1)).cast("long").alias("child_ndv"))
        contained = child.join(parent, "v", "left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("contained_ndv")
        )
        rows.append(
            child_ndv.crossJoin(F.broadcast(contained)).select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                "child_ndv",
                "contained_ndv",
                F.round(
                    F.col("contained_ndv").cast("double")
                    / F.col("child_ndv"),
                    6,
                ).alias("containment"),
                (F.col("child_ndv") == F.col("contained_ndv")).alias(
                    "fk_candidate"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# --- CSV dialect sniffing --------------------------------------------------------------------

_SNIFF_DELIMS = ((",", "comma"), (";", "semicolon"), ("\t", "tab"))
_SNIFF_ROWS = 50
_SNIFF_KEY_CAP = 240  # dense low-key range — constant row count at every sf

SCAN_CSV_DIALECT_SNIFF_ORACLE = (
    "WITH f(file_idx, delim_name) AS (VALUES "
    + ", ".join(f"({i}, '{name}')" for i, (_, name) in enumerate(_SNIFF_DELIMS))
    + "), n AS ("
    f"  SELECT least({_SNIFF_ROWS}, count(*)) AS body FROM orders"
    f"  WHERE o_orderkey <= {_SNIFF_KEY_CAP}"
    ") SELECT 'dialect' || file_idx || '.csv' AS file_name, delim_name"
    "  AS detected, "
    "CAST((SELECT body FROM n) + 1 AS BIGINT) AS n_lines, "
    "CAST(3 AS INT) AS n_cols FROM f"
)


def scan_csv_dialect_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One text scan of all staged files; per-line
    candidate counts are length-difference expressions; per-file
    consistency is a groupBy(file) min/max; the winner is the first
    consistent positive candidate in a fixed priority order. All JVM
    expressions — the sniff costs one pass over the first lines of each
    file (at 100 TB you'd LIMIT the per-file sample; the decision logic
    is unchanged)."""
    import hashlib
    import os
    import tempfile

    # filter to the dense low-key range BEFORE the sort: the staging
    # slice is then a constant-size TakeOrdered at any scale factor
    # (the unfiltered orderBy+limit measured 2.1x at x10)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= _SNIFF_KEY_CAP)
        .orderBy("o_orderkey")
        .limit(_SNIFF_ROWS)
        .select("o_orderkey", "o_orderpriority", money_cents(F.col("o_totalprice")).alias("cents"))
    )
    rows = o.collect()  # bounded 50-row staging slice
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_csvd_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    if not rows:
        return spark.createDataFrame(
            [], "file_name string, detected string, n_lines long, n_cols int"
        )
    for i, (delim, _) in enumerate(_SNIFF_DELIMS):
        lines = [delim.join(("orderkey", "priority", "cents"))]
        for r in rows:
            lines.append(
                delim.join((str(r.o_orderkey), r.o_orderpriority, str(r.cents)))
            )
        with open(f"{stage}/dialect{i}.csv", "w") as f:
            f.write("\n".join(lines) + "\n")
    txt = (
        spark.read.text(f"{stage}/*.csv")
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "file_name"
            ),
            "value",
        )
        .where(F.length("value") > 0)
    )
    counts = [
        (F.length("value") - F.length(F.regexp_replace("value", rx, "")))
        .alias(f"c{i}")
        for i, rx in enumerate((",", ";", "\t"))
    ]
    per_line = txt.select("file_name", *counts)
    per_file = per_line.groupBy("file_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        *[
            f(F.col(f"c{i}")).alias(f"{m}{i}")
            for i in range(len(_SNIFF_DELIMS))
            for m, f in (("mn", F.min), ("mx", F.max))
        ],
    )
    detected = F.lit(None).cast("string")
    n_cols = F.lit(None).cast("int")
    for i, (_, name) in reversed(list(enumerate(_SNIFF_DELIMS))):
        consistent = (F.col(f"mn{i}") == F.col(f"mx{i}")) & (
            F.col(f"mn{i}") > 0
        )
        detected = F.when(consistent, F.lit(name)).otherwise(detected)
        n_cols = F.when(
            consistent, (F.col(f"mn{i}") + 1).cast("int")
        ).otherwise(n_cols)
    return per_file.select(
        "file_name",
        detected.alias("detected"),
        "n_lines",
        n_cols.alias("n_cols"),
    )


# --- Bartels rank von Neumann randomness test -------------------------------------------------

_BARTELS_RANDOM_LO, _BARTELS_RANDOM_HI = 1.5, 2.5  # screen band around E=2

STAT_BARTELS_RANK_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), rk AS ("
    "  SELECT row_number() OVER (ORDER BY day) AS t, "
    "  CAST(2 * rank() OVER (ORDER BY y)"
    "   + count(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS r2"
    "  FROM g"
    "), lagd AS (SELECT r2, lag(r2) OVER (ORDER BY t) AS pr FROM rk), "
    "s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, sum(r2) AS sr, "
    "  sum(r2 * r2) AS sr2, "
    "  sum(CASE WHEN pr IS NULL THEN CAST(0 AS HUGEINT)"
    "    ELSE (r2 - pr) * (r2 - pr) END) AS nm FROM lagd"
    ") SELECT CAST(n AS INT) AS n_days, "
    "round(CAST(n * nm AS DOUBLE) / CAST(n * sr2 - sr * sr AS DOUBLE), 6)"
    "  AS rvn, "
    "round(CAST(n * nm AS DOUBLE) / CAST(n * sr2 - sr * sr AS DOUBLE), 6)"
    f"  BETWEEN {_BARTELS_RANDOM_LO} AND {_BARTELS_RANDOM_HI}"
    "  AS looks_random "
    "FROM s"
)


def stat_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One day-grain aggregate; the rank and lag
    windows run over the ≤|days| series (calendar-bounded); the n·Σ
    scaling keeps the variance denominator integral so one double
    division decides RVN. looks_random compares the ROUNDED value on
    both engines."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    rk = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        )
        .cast(_D38)
        .alias("r2"),
    )
    lagd = rk.select(
        "r2", F.lag("r2").over(Window.orderBy("t")).alias("pr")
    )
    s = lagd.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("r2").alias("sr"),
        F.sum(F.col("r2") * F.col("r2")).alias("sr2"),
        F.sum(
            F.when(
                F.col("pr").isNull(), F.lit(0).cast(_D38)
            ).otherwise((F.col("r2") - F.col("pr")) * (F.col("r2") - F.col("pr")))
        ).alias("nm"),
    )
    rvn = F.round(
        (F.col("n") * F.col("nm")).cast("double")
        / (F.col("n") * F.col("sr2") - F.col("sr") * F.col("sr")).cast(
            "double"
        ),
        6,
    )
    return s.select(
        F.col("n").cast("int").alias("n_days"),
        rvn.alias("rvn"),
        rvn.between(_BARTELS_RANDOM_LO, _BARTELS_RANDOM_HI).alias(
            "looks_random"
        ),
    )


DEV_CASES = [
    (
        "text_prefix_cache_value",
        text_prefix_cache_value,
        TEXT_PREFIX_CACHE_VALUE_ORACLE,
    ),
    ("join_fk_discovery", join_fk_discovery, JOIN_FK_DISCOVERY_ORACLE),
    (
        "scan_csv_dialect_sniff",
        scan_csv_dialect_sniff,
        SCAN_CSV_DIALECT_SNIFF_ORACLE,
    ),
    ("stat_bartels_rank", stat_bartels_rank, STAT_BARTELS_RANK_ORACLE),
]
