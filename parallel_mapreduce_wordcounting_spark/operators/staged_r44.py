"""Regression-diagnostic / BFS / ablation / decontamination wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r44.py holds the independent property checks. (Two ops
drafted for this wave — a bitmap-distinct certification and a count-min
sketch — were DROPPED before staging: ``agg_bitmap_distinct`` and
``agg_countmin`` already exist, registered, in aggregates_ext.py; the
mm_wav_meta/win_first_last collision lesson.)

Contents:

- ``stat_durbin_watson`` — the Durbin–Watson first-order residual
  autocorrelation diagnostic on the daily purchase-revenue series
  against its OLS linear trend. The residual is scaled by the exact
  OLS denominator so it stays an INTEGER: with D = nΣt²−(Σt)²,
  A = ΣyΣt²−ΣtΣty, B = nΣty−ΣtΣy, the scaled residual
  E_t = D·y_t − A − B·t = D·e_t is exact in decimal(38)/HUGEINT and
  the D² factors cancel in DW = Σ(E_t−E_{t−1})²/ΣE_t². One double
  division at the end, rounded 6 dp. The "did the trend fit leave
  structure behind?" screen beside stat_autocorr's raw-series ACF.
- ``graph_bfs_frontier`` — bounded-depth (3-hop) breadth-first search
  over the shared capped span-edge duplicate graph
  (:func:`staged_r9._span_edges`) from the deterministic seed set
  v % 5 == 0: per-distance frontier sizes plus the unreached count
  (dist −1). Each hop is one equi-join + distinct — the textbook BSP
  frontier expansion (Pregel's shape), which is exactly how you answer
  "how far does contamination spread through near-dup links?" without
  materializing transitive closure. Census rows are materialized under
  a ``persisting`` block over the edge set (the triangle-stats cache
  convention); all five rows always present.
- ``pipeline_quality_ablation`` — leave-one-out ablation of the four
  pipeline_filter_funnel quality filters (same expressions, same
  thresholds): for each filter, the documents ONLY it rejects (its solo
  kills = exactly the docs recovered by dropping it) and the survivor
  count without it. The funnel says where docs died; the ablation says
  which filter is load-bearing vs redundant — the curation-science
  readout behind every filter-budget decision. One scan, one 1-row
  aggregate, rows exploded from structs.
- ``text_substring_contamination`` — exact-substring eval-set
  decontamination (the GPT-3-appendix method, beside
  text_contamination's 5-gram-overlap form): the held-out slice
  (doc_id % 101 == 0) contributes its first-64-char prefix as a
  needle; the census counts, per needle, how many train documents
  contain it verbatim (``instr``, no tokenization, no regex). The
  needle set is CAPPED at 50 ids (an eval benchmark is fixed-size, it
  does not grow with the training corpus) so the broadcast side is
  bounded at any scale and the train side is scanned once — the ×10
  harness measured the uncapped form quadratic (6.0×), the capped one
  linear.

Exactness doctrine: BFS/ablation/contamination outputs are exact
integers end-to-end; DW's single double division rounds to 6 dp with
both engines dividing the same exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql
from .staged_r9 import SPAN_EDGES_ORACLE_CTES, _span_edges

_D38 = "decimal(38,0)"

# --- Durbin–Watson trend-residual diagnostic ---------------------------------------

_DW_POSITIVE_CUTOFF = 1.5

# the SHARED exactly-scaled trend-residual derivation (E_t = D·e_t, an
# integer): CTE chain ending in e(t, ee) — used by stat_durbin_watson
# here and stat_het_spearman (staged_r45); mirrored by
# :func:`_trend_residuals` (the span_edges shared-derivation precedent)
TREND_RESID_CTES = (
    "g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS ("
    "  SELECT CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS t, "
    "  CAST(y AS HUGEINT) AS y FROM g"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, sum(t) AS st, sum(t * t) AS st2, "
    "  sum(y) AS sy, sum(t * y) AS sty FROM r"
    "), e AS ("
    "  SELECT t, (s.n * s.st2 - s.st * s.st) * y"
    "   - (s.sy * s.st2 - s.st * s.sty) - (s.n * s.sty - s.st * s.sy) * t AS ee"
    "  FROM r CROSS JOIN s"
    ")"
)

STAT_DURBIN_WATSON_ORACLE = (
    f"WITH {TREND_RESID_CTES}, "
    "l AS (SELECT ee, lag(ee) OVER (ORDER BY t) AS pe FROM e), "
    "a AS ("
    "  SELECT CAST(count(*) AS INT) AS n_days, "
    "  sum(CASE WHEN pe IS NULL THEN CAST(0 AS HUGEINT)"
    "      ELSE (ee - pe) * (ee - pe) END) AS num, "
    "  sum(ee * ee) AS den FROM l"
    "), dw AS ("
    "  SELECT n_days, round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS dw"
    "  FROM a"
    ") SELECT n_days, dw, round(1 - dw / 2, 6) AS rho1, "
    f"dw < {_DW_POSITIVE_CUTOFF} AS positive_autocorr FROM dw"
)


def _trend_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark mirror of :data:`TREND_RESID_CTES`: (t, ee) with
    ee = D·e_t the exactly-scaled OLS trend residual of daily purchase
    revenue, both decimal(38,0). One day-grain aggregate absorbs the
    event volume; the five sufficient statistics ride a 1-row
    broadcast."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        F.row_number().over(Window.orderBy("day")).cast(_D38).alias("t"),
        F.col("y").cast(_D38).alias("y"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").cast(_D38).alias("st"),
        F.sum(F.col("t") * F.col("t")).cast(_D38).alias("st2"),
        F.sum("y").cast(_D38).alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast(_D38).alias("sty"),
    )
    return r.crossJoin(F.broadcast(s)).select(
        "t",
        (
            (F.col("n") * F.col("st2") - F.col("st") * F.col("st")) * F.col("y")
            - (F.col("sy") * F.col("st2") - F.col("st") * F.col("sty"))
            - (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) * F.col("t")
        ).alias("ee"),
    )


def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The day-grain aggregate absorbs the event
    volume; everything after runs on ≤ |days| rows (bounded global
    window, the stat_autocorr convention) with a 1-row broadcast of the
    five sufficient statistics. DW ≈ 2(1−ρ₁): <1.5 flags positive
    residual autocorrelation (the trend missed structure), ≈2 is white
    noise, >2.5 alternation."""
    e = _trend_residuals(spark, sf_dir)
    lagged = e.select(
        "ee", F.lag("ee").over(Window.orderBy("t")).alias("pe")
    )
    a = lagged.agg(
        F.count(F.lit(1)).cast("int").alias("n_days"),
        F.sum(
            F.when(F.col("pe").isNull(), F.lit(0).cast(_D38)).otherwise(
                (F.col("ee") - F.col("pe")) * (F.col("ee") - F.col("pe"))
            )
        ).alias("num"),
        F.sum(F.col("ee") * F.col("ee")).alias("den"),
    )
    dw = a.select(
        "n_days",
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "dw"
        ),
    )
    return dw.select(
        "n_days",
        "dw",
        F.round(1 - F.col("dw") / 2, 6).alias("rho1"),
        (F.col("dw") < _DW_POSITIVE_CUTOFF).alias("positive_autocorr"),
    )


# --- bounded-depth BFS over the duplicate graph -------------------------------------

_BFS_SEED_MOD = 5
_BFS_HOPS = 3

GRAPH_BFS_FRONTIER_ORACLE = (
    f"WITH {SPAN_EDGES_ORACLE_CTES}, "
    "und AS (SELECT da, db FROM e UNION ALL SELECT db, da FROM e), "
    "nodes AS (SELECT DISTINCT da AS v FROM und), "
    f"l0 AS (SELECT v FROM nodes WHERE v % {_BFS_SEED_MOD} = 0), "
    "l1 AS (SELECT DISTINCT u.db AS v FROM l0 JOIN und u ON u.da = l0.v "
    "  WHERE u.db NOT IN (SELECT v FROM l0)), "
    "l2 AS (SELECT DISTINCT u.db AS v FROM l1 JOIN und u ON u.da = l1.v "
    "  WHERE u.db NOT IN (SELECT v FROM l0) AND u.db NOT IN (SELECT v FROM l1)), "
    "l3 AS (SELECT DISTINCT u.db AS v FROM l2 JOIN und u ON u.da = l2.v "
    "  WHERE u.db NOT IN (SELECT v FROM l0) AND u.db NOT IN (SELECT v FROM l1) "
    "  AND u.db NOT IN (SELECT v FROM l2)) "
    "SELECT CAST(0 AS INT) AS dist, CAST((SELECT count(*) FROM l0) AS BIGINT) AS n_nodes "
    "UNION ALL SELECT 1, (SELECT count(*) FROM l1) "
    "UNION ALL SELECT 2, (SELECT count(*) FROM l2) "
    "UNION ALL SELECT 3, (SELECT count(*) FROM l3) "
    "UNION ALL SELECT -1, (SELECT count(*) FROM nodes) "
    "  - (SELECT count(*) FROM l0) - (SELECT count(*) FROM l1) "
    "  - (SELECT count(*) FROM l2) - (SELECT count(*) FROM l3)"
)


def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Frontier hop k: join frontier(k−1) to the
    undirected edge list on the source endpoint, distinct the targets,
    anti-join everything already visited — one bounded-output shuffle
    per hop, never a transitive-closure materialization. The edge set
    persists across the 4 hops (``persisting``, the triangle-stats cache
    convention) so the span explode runs once."""
    d = load_table(spark, sf_dir, "documents")
    with persisting() as keep:
        e = keep(_span_edges(d))
        und = keep(
            e.unionByName(
                e.select(F.col("db").alias("da"), F.col("da").alias("db"))
            )
        )
        nodes = keep(und.select(F.col("da").alias("v")).distinct())
        # persist EVERY hop's frontier and visited set: each count() is an
        # action, and without the pins hop k replays every join back to
        # the span explode — measured 20.8 s vs 4 s at sf0.1
        frontier = keep(nodes.where(F.col("v") % _BFS_SEED_MOD == 0))
        visited = frontier
        counts = [(0, frontier.count())]
        for k in range(1, _BFS_HOPS + 1):
            frontier = keep(
                frontier.join(und, frontier["v"] == und["da"])
                .select(F.col("db").alias("v"))
                .distinct()
                .join(visited, "v", "left_anti")
            )
            counts.append((k, frontier.count()))
            # frontiers are disjoint by the anti-join: plain union stays
            # duplicate-free, no distinct needed
            visited = keep(visited.unionByName(frontier))
        unreached = nodes.join(visited, "v", "left_anti").count()
        counts.append((-1, unreached))
    return spark.createDataFrame(
        [(int(k), int(n)) for k, n in counts], "dist int, n_nodes long"
    )


# --- leave-one-out quality-filter ablation -------------------------------------------

# the four pipeline_filter_funnel filters (staged_r19), SAME expressions
_ABLATION_FILTERS = ["too_short", "markup", "low_diversity", "word_length"]

PIPELINE_QUALITY_ABLATION_ORACLE = (
    "WITH scored AS ("
    "  SELECT len(string_split(text, ' ')) AS n_words, "
    "  len(list_distinct(string_split(text, ' '))) AS n_types, "
    "  list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS n_chars_w, "
    "  instr(text, '<') > 0 AND instr(text, '>') > 0 AS has_markup"
    "  FROM documents"
    "), f AS ("
    "  SELECT CAST(n_words < 30 AS INT) AS f0, CAST(has_markup AS INT) AS f1, "
    "  CAST(n_types < 0.3 * n_words AS INT) AS f2, "
    "  CAST(n_chars_w < 3.0 * n_words OR n_chars_w > 12.0 * n_words AS INT) AS f3"
    "  FROM scored"
    "), a AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS total, "
    "  CAST(sum(CASE WHEN f0+f1+f2+f3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS base, "
    "  CAST(sum(CASE WHEN f0=1 AND f1+f2+f3=0 THEN 1 ELSE 0 END) AS BIGINT) AS s0, "
    "  CAST(sum(CASE WHEN f1=1 AND f0+f2+f3=0 THEN 1 ELSE 0 END) AS BIGINT) AS s1, "
    "  CAST(sum(CASE WHEN f2=1 AND f0+f1+f3=0 THEN 1 ELSE 0 END) AS BIGINT) AS s2, "
    "  CAST(sum(CASE WHEN f3=1 AND f0+f1+f2=0 THEN 1 ELSE 0 END) AS BIGINT) AS s3"
    "  FROM f"
    ") SELECT u.filter, u.solo_kills, a.base + u.solo_kills AS survivors_without, "
    "a.base AS survivors_all, round(u.solo_kills / (1.0 * a.total), 6) AS solo_share "
    "FROM a, LATERAL (VALUES ('too_short', s0), ('markup', s1), "
    "('low_diversity', s2), ('word_length', s3)) AS u(filter, solo_kills)"
)


def pipeline_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Per-doc filter booleans in one codegen
    pass, a single 1-row aggregate of the five interaction counts, and
    a 4-row explode — the whole ablation table costs exactly one scan.
    solo kills understate a filter's gross kills (overlaps excluded by
    construction): that asymmetry IS the redundancy signal."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_types"),
        F.aggregate(
            F.transform(F.split(F.col("text"), " "), F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_w"),
        (
            (F.instr(F.col("text"), "<") > 0) & (F.instr(F.col("text"), ">") > 0)
        ).alias("has_markup"),
    )
    flags = docs.select(
        (F.col("n_words") < 30).cast("int").alias("f0"),
        F.col("has_markup").cast("int").alias("f1"),
        (F.col("n_types") < 0.3 * F.col("n_words")).cast("int").alias("f2"),
        (
            (F.col("n_chars_w") < 3.0 * F.col("n_words"))
            | (F.col("n_chars_w") > 12.0 * F.col("n_words"))
        )
        .cast("int")
        .alias("f3"),
    )
    others = {
        0: ("f1", "f2", "f3"),
        1: ("f0", "f2", "f3"),
        2: ("f0", "f1", "f3"),
        3: ("f0", "f1", "f2"),
    }
    solo = [
        F.sum(
            F.when(
                (F.col(f"f{i}") == 1)
                & (sum((F.col(c) for c in others[i]), F.lit(0)) == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"s{i}")
        for i in range(4)
    ]
    a = flags.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(
            F.when(
                F.col("f0") + F.col("f1") + F.col("f2") + F.col("f3") == 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("base"),
        *solo,
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("filter"), F.col(f"s{i}").alias("solo_kills")
            )
            for i, name in enumerate(_ABLATION_FILTERS)
        ]
    )
    return a.select("total", "base", F.explode(rows).alias("r")).select(
        F.col("r.filter").alias("filter"),
        F.col("r.solo_kills").alias("solo_kills"),
        (F.col("base") + F.col("r.solo_kills")).alias("survivors_without"),
        F.col("base").alias("survivors_all"),
        F.round(F.col("r.solo_kills") / F.col("total"), 6).alias("solo_share"),
    )


# --- exact-substring eval decontamination --------------------------------------------

_DECONTAM_EVAL_MOD = 101
_DECONTAM_NEEDLE_CHARS = 64
# the eval SLICE is a fixed-size benchmark, not a corpus share: cap the
# needle ids so the broadcast side is BOUNDED at any corpus size (the
# uncapped %101 slice grew with the corpus -> both join sides scaled and
# the x10 harness measured 6.0x; with the cap the scan is linear)
_DECONTAM_MAX_NEEDLES = 50
_DECONTAM_ID_CAP = _DECONTAM_EVAL_MOD * _DECONTAM_MAX_NEEDLES

TEXT_SUBSTRING_CONTAMINATION_ORACLE = (
    "WITH ev AS ("
    f"  SELECT doc_id AS eval_doc_id, substr(text, 1, {_DECONTAM_NEEDLE_CHARS}) "
    "  AS needle FROM documents "
    f"  WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0 AND doc_id < {_DECONTAM_ID_CAP} "
    f"  AND length(text) >= {_DECONTAM_NEEDLE_CHARS}"
    "), tr AS ("
    f"  SELECT text FROM documents WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0"
    ") SELECT ev.eval_doc_id, "
    "CAST(sum(CASE WHEN instr(tr.text, ev.needle) > 0 THEN 1 ELSE 0 END) "
    "  AS BIGINT) AS n_train_hits, "
    "sum(CASE WHEN instr(tr.text, ev.needle) > 0 THEN 1 ELSE 0 END) > 0 "
    "  AS contaminated "
    "FROM ev CROSS JOIN tr GROUP BY ev.eval_doc_id"
)


def text_substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The needle set broadcasts (|corpus|/101
    rows); the train side is scanned once with a plain ``instr`` per
    (doc, needle) — at a larger needle budget this becomes one
    Aho–Corasick pass in mapInPandas, but the plan shape (bounded
    broadcast × single big-side scan) is already the 100 TB one. The
    aggregate runs over every pair, so zero-hit needles keep their
    row."""
    d = load_table(spark, sf_dir, "documents")
    ev = d.where(
        (F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
        & (F.col("doc_id") < _DECONTAM_ID_CAP)
        & (F.length("text") >= _DECONTAM_NEEDLE_CHARS)
    ).select(
        F.col("doc_id").alias("eval_doc_id"),
        F.substring("text", 1, _DECONTAM_NEEDLE_CHARS).alias("needle"),
    )
    tr = d.where(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0).select("text")
    hits = tr.crossJoin(F.broadcast(ev)).select(
        "eval_doc_id",
        (F.instr(F.col("text"), F.col("needle")) > 0).cast("long").alias("hit"),
    )
    return hits.groupBy("eval_doc_id").agg(
        F.sum("hit").cast("long").alias("n_train_hits"),
        (F.sum("hit") > 0).alias("contaminated"),
    )


DEV_CASES = [
    ("stat_durbin_watson", stat_durbin_watson, STAT_DURBIN_WATSON_ORACLE),
    ("graph_bfs_frontier", graph_bfs_frontier, GRAPH_BFS_FRONTIER_ORACLE),
    (
        "pipeline_quality_ablation",
        pipeline_quality_ablation,
        PIPELINE_QUALITY_ABLATION_ORACLE,
    ),
    (
        "text_substring_contamination",
        text_substring_contamination,
        TEXT_SUBSTRING_CONTAMINATION_ORACLE,
    ),
]
