"""Estimation-without-truth / stylometry / formats wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import:
the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r20.py holds the independent property checks.

Contents:

- ``dedup_capture_recapture`` — Lincoln–Petersen/Chapman estimate of the
  TOTAL near-duplicate pair population from two independent detectors
  (SimHash pigeonhole pairs × winnowing fingerprint pairs) — the
  denominator you cannot compute exactly at 100 TB, estimated from two
  detectors you CAN run (the software-defect capture-recapture shape).
- ``stat_kendall`` — Kendall's τ-b between daily click volume and daily
  purchase revenue with full tie corrections — the pair-concordance
  rank correlation beside stat_spearman's midrank form, decided
  entirely on integer pair counts.
- ``sample_neyman`` — Neyman optimal allocation of a 1000-doc sample
  budget across language strata (n_h ∝ N_h·σ_h) — the variance-minimal
  stratified design, allocation decided in exact integer arithmetic.
- ``text_burrows_delta`` — Burrows' Delta stylometric distance between
  every source pair over the corpus top-50 words (z-scored relative
  frequencies) — the classic authorship/provenance attribution measure.
- ``mm_tar_index`` — WebDataset-style tar SHARD member index parsed
  ENTIRELY JVM-side from a REAL ustar archive: per-member name, octal
  size, offset — the fifth binary container (PNG-BE, WAV-LE, NPY-text,
  GIF-bitfield, TAR-block), adding block-structured record discovery.
- ``graph_local_clustering`` — local clustering coefficient census of
  the exact near-dup graph (per-degree mean cc) — "are my duplicate
  neighborhoods cliques or chains?", the policy input for whether
  cluster-collapse or pairwise-drop dedup is appropriate.

Exactness doctrine: unchanged — exact integer/decimal(38) accumulation
everywhere a sum crosses partitions (counts, nano-unit frequencies,
micro-unit z-scores and coefficients); doubles only in final reported
expressions rounded ≤6 dp or decided on identical IEEE trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- capture-recapture estimate of the near-dup pair population -----------------


def _winnow_cand_sql(prefix: str) -> str:
    """The candidate-pair stage of staged_r15.DEDUP_WINNOW_ORACLE with
    CTE names prefixed (its ``t``/``g`` collide with ORACLE_SIMHASH_FP's
    when both chains share one WITH)."""
    from .staged_r15 import _WIN_K, _WIN_W

    return (
        f"{prefix}t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "  FROM documents), "
        f"{prefix}g AS ("
        "  SELECT doc_id, list_transform(generate_series(1, "
        f"    greatest(len(toks) - {_WIN_K - 1}, 0)), "
        f"    i -> array_to_string(list_slice(toks, i, i + {_WIN_K - 1}), ' ')) "
        "    AS grams"
        f"  FROM {prefix}t"
        f"), {prefix}gh AS ("
        "  SELECT doc_id, list_transform(grams, "
        "    x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS ghs"
        f"  FROM {prefix}g"
        f"), {prefix}fps AS ("
        "  SELECT DISTINCT doc_id, fp FROM ("
        "    SELECT doc_id, unnest(list_transform(generate_series(1, "
        f"      greatest(len(ghs) - {_WIN_W - 1}, 0)), "
        f"      j -> list_min(list_slice(ghs, j, j + {_WIN_W - 1})))) AS fp"
        f"    FROM {prefix}gh)"
        f"), {prefix}cand AS ("
        "  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b"
        f"  FROM {prefix}fps a JOIN {prefix}fps b "
        "    ON a.fp = b.fp AND a.doc_id < b.doc_id"
        "  GROUP BY 1, 2)"
    )


# Build the oracle as one clean WITH-chain: simhash fingerprint CTEs
# (t/h/v/fp from the REGISTERED dedup_simhash spec), the winnow candidate
# CTEs under w-prefixed names, the shingle CTEs (tok/sh) for the verify
# step, then the Chapman arithmetic over VERIFIED captures.
def _cr_oracle() -> str:
    from .dedup import ORACLE_SIMHASH_FP, SHINGLES_CTE

    return (
        f"{ORACLE_SIMHASH_FP}, "
        "sim AS ("
        "  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b"
        "  FROM fp a JOIN fp b ON a.doc_id < b.doc_id"
        "  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        "), "
        + _winnow_cand_sql("w")
        + ", "
        + SHINGLES_CTE.removeprefix("WITH ")
        + ", cand AS ("
        "  SELECT doc_id_a, doc_id_b, max(is_sim) AS is_sim, "
        "  max(is_win) AS is_win FROM ("
        "    SELECT doc_id_a, doc_id_b, 1 AS is_sim, 0 AS is_win FROM sim"
        "    UNION ALL "
        "    SELECT doc_id_a, doc_id_b, 0, 1 FROM wcand"
        "  ) GROUP BY 1, 2"
        "), ver AS ("
        # verify candidates only: exact Jaccard >= 0.3 decided in EXACT
        # integer arithmetic (10*|∩| >= 3*|∪|) — no float comparison
        "  SELECT c.is_sim, c.is_win FROM cand c"
        "  JOIN sh a ON a.doc_id = c.doc_id_a"
        "  JOIN sh b ON b.doc_id = c.doc_id_b"
        "  WHERE 10 * len(list_intersect(a.s, b.s)) "
        "    >= 3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
        "), m AS ("
        "  SELECT coalesce(sum(is_sim), 0) AS n_sim, "
        "  coalesce(sum(is_win), 0) AS n_win, "
        "  coalesce(sum(is_sim * is_win), 0) AS n_both FROM ver"
        ") SELECT CAST(n_sim AS BIGINT) AS n_sim, "
        "CAST(n_win AS BIGINT) AS n_win, "
        "CAST(n_both AS BIGINT) AS n_both, "
        "CAST(n_sim + n_win - n_both AS BIGINT) AS n_union, "
        "round((n_sim + 1) * (n_win + 1) / (1.0 * (n_both + 1)) - 1, 2) "
        "  AS chapman_est "
        "FROM m"
    )


def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL near-duplicate
    pair population, WITHOUT an exhaustive truth pass: capture 1 = the
    verified dups surfaced by the SimHash pigeonhole funnel (hamming ≤ 3
    candidates → exact-Jaccard verify), capture 2 = the verified dups
    surfaced by the winnowing fingerprint funnel (shared-fingerprint
    candidates → same verify). Each funnel misses dups its candidate
    generator never pairs; the overlap m between the two verified sets
    calibrates that miss rate: N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (Chapman).
    At 100 TB the all-pairs truth is unaffordable, but both funnels are
    linear-ish — this is the software-defect-estimation shape for "how
    many near-dups did we NOT find?". (Stated caveat: the funnels are
    positively correlated on template dups, so N̂ leans low — a
    defect-estimation screen, not an unbiased census.)

    Composes the registered dedup_simhash + dedup_simhash_pairs
    (pigeonhole expansion to doc level exactly as dedup_eval_simhash,
    staged_r10.py) and staged_r15.dedup_winnow's candidate stage; the
    verify decides exact Jaccard ≥ 0.3 in EXACT integer arithmetic
    (10·|∩| ≥ 3·|∪| — no float comparison), all counts reduce in ONE
    aggregate, and the estimate is one double expression rounded 2 dp.

    Scale: both funnels are their bucketed production forms (never
    all-pairs); verification touches CANDIDATE pairs only; the final
    frame is a single row of sufficient statistics."""
    from .dedup import dedup_simhash, shingle_sets
    from .staged_r8 import dedup_simhash_pairs
    from .staged_r15 import dedup_winnow

    fp = dedup_simhash(spark, sf_dir)
    fpp = dedup_simhash_pairs(spark, sf_dir)
    da = fp.select(F.col("simhash").alias("fp_a"), F.col("doc_id").alias("x"))
    db = fp.select(F.col("simhash").alias("fp_b"), F.col("doc_id").alias("y"))
    sim = (
        fpp.select("fp_a", "fp_b")
        .join(da, "fp_a")
        .join(db, "fp_b")
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("doc_id_a"),
            F.greatest("x", "y").alias("doc_id_b"),
        )
        .distinct()
    )
    win = dedup_winnow(spark, sf_dir).select(
        F.col("doc_a").alias("doc_id_a"), F.col("doc_b").alias("doc_id_b")
    )
    cand = (
        sim.select(
            "doc_id_a", "doc_id_b", F.lit(1).alias("is_sim"), F.lit(0).alias("is_win")
        )
        .unionByName(
            win.select(
                "doc_id_a",
                "doc_id_b",
                F.lit(0).alias("is_sim"),
                F.lit(1).alias("is_win"),
            )
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.max("is_sim").alias("is_sim"), F.max("is_win").alias("is_win"))
    )
    sh = shingle_sets(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    ver = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .where(
            10 * inter >= 3 * (F.size("sa") + F.size("sb") - inter)
        )
        .select("is_sim", "is_win")
    )
    m = ver.agg(
        F.coalesce(F.sum("is_sim"), F.lit(0)).alias("n_sim"),
        F.coalesce(F.sum("is_win"), F.lit(0)).alias("n_win"),
        F.coalesce(F.sum(F.col("is_sim") * F.col("is_win")), F.lit(0)).alias(
            "n_both"
        ),
    )
    n1, n2, mm = F.col("n_sim"), F.col("n_win"), F.col("n_both")
    return m.select(
        n1.cast("long").alias("n_sim"),
        n2.cast("long").alias("n_win"),
        mm.cast("long").alias("n_both"),
        (n1 + n2 - mm).cast("long").alias("n_union"),
        F.round((n1 + 1) * (n2 + 1) / (1.0 * (mm + 1)) - 1, 2).alias(
            "chapman_est"
        ),
    )


# --- Kendall's tau-b ------------------------------------------------------------

STAT_KENDALL_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    "  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x, "
    f"  sum(CASE WHEN event_type = 'purchase' THEN {money_cents_sql('value')} "
    "      ELSE 0 END) AS y"
    "  FROM events GROUP BY 1"
    "), p AS ("
    # sign() products, not raw delta products: Δclicks·Δcents overflows
    # int64 at large SF (Spark wraps silently, DuckDB errors — a
    # cross-engine divergence); only the SIGN decides concordance
    "  SELECT "
    "  CAST(sum(CASE WHEN sign(a.x - b.x) * sign(a.y - b.y) > 0 "
    "    THEN 1 ELSE 0 END) AS BIGINT) AS conc, "
    "  CAST(sum(CASE WHEN sign(a.x - b.x) * sign(a.y - b.y) < 0 "
    "    THEN 1 ELSE 0 END) AS BIGINT) AS disc, "
    "  CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tie_x, "
    "  CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS tie_y, "
    "  CAST(count(*) AS BIGINT) AS n_pairs"
    "  FROM g a JOIN g b ON a.day < b.day"
    "), n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM g) "
    "SELECT n.n_days, p.n_pairs, p.conc, p.disc, "
    "round((p.conc - p.disc) "
    "  / nullif(sqrt((p.n_pairs - p.tie_x) * 1.0 * (p.n_pairs - p.tie_y)), "
    "      0), 6) AS tau_b, "
    "round(3.0 * (p.conc - p.disc) "
    "  / nullif(sqrt(n.n_days * (n.n_days - 1.0) * (2 * n.n_days + 5) / 2), "
    "      0), 4) AS z "
    "FROM p, n"
)


def stat_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between daily click volume and daily purchase
    revenue, with full tie corrections — the pair-concordance rank
    correlation: P(same order) − P(opposite order) over random day
    pairs, more robust than Spearman's ρ to a few wild days and with a
    cleaner sampling interpretation; z is the normal approximation for
    the no-ties null.

    Exactness: every sufficient statistic (concordant, discordant, tied
    pair counts) is an exact integer decided by integer products over
    the cents/count day series; τ-b and z are single double expressions
    rounded 6/4 dp.

    Scale: stat_spearman's shape — the event stream collapses to the
    calendar-bounded day series FIRST, so the O(days²) pair join is
    ~3650²/2 ≈ 6.6M lightweight integer rows a DECADE, constant in
    corpus volume (for row-grain τ at scale, the O(n log n)
    merge-sort-inversion form over stat_auc's histogram machinery is
    the substitute; day grain is the honest shape here)."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    money_cents(F.col("value")),
                ).otherwise(0)
            ).alias("y"),
        )
    )
    a = g.select(
        F.col("day").alias("day_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = g.select(
        F.col("day").alias("day_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    # sign() products, not raw delta products: Δclicks·Δcents overflows
    # int64 at large SF (Spark wraps silently, DuckDB errors); only the
    # SIGN decides concordance, and ±1/0 double products are IEEE-exact
    sg = F.signum(F.col("xa") - F.col("xb")) * F.signum(
        F.col("ya") - F.col("yb")
    )
    p = (
        a.join(b, F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(F.when(sg > 0, 1).otherwise(0)).alias("conc"),
            F.sum(F.when(sg < 0, 1).otherwise(0)).alias("disc"),
            F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0)).alias(
                "tie_x"
            ),
            F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0)).alias(
                "tie_y"
            ),
            F.count("*").alias("n_pairs"),
        )
    )
    n = g.agg(F.count("*").alias("n_days"))
    cd = F.col("conc") - F.col("disc")
    nd = F.col("n_days")
    return (
        p.crossJoin(F.broadcast(n))
        .select(
            "n_days",
            "n_pairs",
            "conc",
            "disc",
            F.round(
                cd
                / F.nullif(
                    F.sqrt(
                        (F.col("n_pairs") - F.col("tie_x"))
                        * 1.0
                        * (F.col("n_pairs") - F.col("tie_y"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("tau_b"),
            F.round(
                3.0
                * cd
                / F.nullif(
                    F.sqrt(nd * (nd - 1.0) * (2 * nd + 5) / 2), F.lit(0.0)
                ),
                4,
            ).alias("z"),
        )
    )


# --- Neyman optimal stratified allocation ----------------------------------------

_NEYMAN_BUDGET = 1000

SAMPLE_NEYMAN_ORACLE = (
    "WITH s AS ("
    "  SELECT lang, CAST(count(*) AS HUGEINT) AS nh, "
    "  CAST(sum(n_chars) AS HUGEINT) AS s1, "
    "  CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2"
    "  FROM documents GROUP BY lang"
    "), sd AS ("
    "  SELECT lang, nh, "
    # N_h * sigma_h in integer micro-units: both engines CAST the same
    # positive double with round-half-away (probed: Spark decimal cast
    # HALF_UP == DuckDB double->HUGEINT cast)
    "  CAST(CAST(nh AS DOUBLE) * sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE) "
    "      / CAST(nh * (nh - 1) AS DOUBLE)) * 1000000 AS HUGEINT) AS wq"
    "  FROM s WHERE nh >= 2"
    "), tot AS (SELECT CAST(sum(wq) AS HUGEINT) AS wsum FROM sd) "
    "SELECT sd.lang, CAST(sd.nh AS BIGINT) AS n_docs, "
    "round(CAST(sd.wq AS DOUBLE) / 1000000.0 / CAST(sd.nh AS DOUBLE), 6) "
    "  AS sigma_chars, "
    "round(CAST(sd.wq AS DOUBLE) / CAST(tot.wsum AS DOUBLE), 6) "
    "  AS weight_share, "
    f"CAST(({_NEYMAN_BUDGET} * sd.wq) // tot.wsum AS BIGINT) AS alloc_n "
    "FROM sd, tot"
)


def sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a {budget}-document sample across
    language strata: n_h ∝ N_h·σ_h minimizes the variance of the
    stratified mean for a fixed budget — the design that samples MORE
    from big AND internally-diverse strata, the principled upgrade over
    proportional allocation (sample_stratified) when strata differ in
    spread (σ from the document-length distribution here).

    Exactness: per-stratum sufficient statistics are exact
    decimal(38)/HUGEINT; N_h·σ_h quantizes to integer MICRO-units (the
    double expression is identical on both engines, truncation is exact
    on the all-positive value), the weight total is an exact integer
    sum, and each allocation is an exact integer floor division — the
    floor convention means Σ alloc ≤ budget with the remainder
    unassigned (largest-remainder top-up is a presentation choice,
    deliberately left out of the contract).

    Scale: one map-side-combining aggregate per stratum; the allocation
    arithmetic runs on |strata| rows against a 1-row total broadcast."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast(_D38).alias("nh"),
            F.sum("n_chars").cast(_D38).alias("s1"),
            F.sum(F.col("n_chars").cast(_D38) * F.col("n_chars"))
            .cast(_D38)
            .alias("s2"),
        )
    )
    nh, s1, s2 = F.col("nh"), F.col("s1"), F.col("s2")
    sigma = F.sqrt(
        (nh * s2 - s1 * s1).cast("double") / (nh * (nh - 1)).cast("double")
    )
    sd = s.where(nh >= 2).select(
        "lang",
        nh.alias("nh"),
        (nh.cast("double") * sigma * 1000000).cast(_D38).alias("wq"),
    )
    tot = sd.agg(F.sum("wq").cast(_D38).alias("wsum"))
    j = sd.crossJoin(F.broadcast(tot))
    alloc_num = F.lit(_NEYMAN_BUDGET).cast(_D38) * F.col("wq")
    alloc = (
        (alloc_num - F.pmod(alloc_num, F.col("wsum"))) / F.col("wsum")
    ).cast(_D38)
    return j.select(
        "lang",
        F.col("nh").cast("long").alias("n_docs"),
        F.round(
            F.col("wq").cast("double") / 1000000.0 / F.col("nh").cast("double"),
            6,
        ).alias("sigma_chars"),
        F.round(
            F.col("wq").cast("double") / F.col("wsum").cast("double"), 6
        ).alias("weight_share"),
        alloc.cast("long").alias("alloc_n"),
    )


sample_neyman.__doc__ = sample_neyman.__doc__.format(budget=_NEYMAN_BUDGET)

# --- Burrows' Delta stylometry ----------------------------------------------------

_DELTA_TOP_WORDS = 50

TEXT_BURROWS_DELTA_ORACLE = (
    "WITH tok AS ("
    "  SELECT source, unnest(string_split(lower(text), ' ')) AS w"
    "  FROM documents"
    "), cw AS ("
    "  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w"
    "), top AS ("
    "  SELECT w FROM cw ORDER BY c DESC, w "
    f"  LIMIT {_DELTA_TOP_WORDS}"
    "), st AS ("
    "  SELECT source, CAST(count(*) AS HUGEINT) AS t FROM tok GROUP BY source"
    "), cnt AS ("
    "  SELECT tok.source, tok.w, CAST(count(*) AS HUGEINT) AS c"
    "  FROM tok JOIN top ON top.w = tok.w GROUP BY 1, 2"
    "), grid AS ("
    "  SELECT st.source, top.w, st.t, coalesce(cnt.c, 0) AS c"
    "  FROM st CROSS JOIN top "
    "  LEFT JOIN cnt ON cnt.source = st.source AND cnt.w = top.w"
    "), fq AS ("
    # relative frequency in exact integer NANO-units (all-positive //)
    "  SELECT source, w, (c * 1000000000) // t AS f FROM grid"
    "), ms AS ("
    "  SELECT w, CAST(count(*) AS HUGEINT) AS k, "
    "  CAST(sum(f) AS HUGEINT) AS f1, "
    "  CAST(sum(f * f) AS HUGEINT) AS f2 FROM fq GROUP BY w"
    "), z AS ("
    "  SELECT fq.source, fq.w, "
    # z-score quantized to integer micro-units; sigma=0 words drop
    "  CAST(round(1000000 * (CAST(fq.f AS DOUBLE) "
    "      - CAST(ms.f1 AS DOUBLE) / CAST(ms.k AS DOUBLE)) "
    "    / sqrt(CAST(ms.k * ms.f2 - ms.f1 * ms.f1 AS DOUBLE) "
    "      / CAST(ms.k * (ms.k - 1) AS DOUBLE))) AS BIGINT) AS zq"
    "  FROM fq JOIN ms ON ms.w = fq.w"
    "  WHERE ms.k >= 2 AND ms.k * ms.f2 - ms.f1 * ms.f1 > 0"
    ") SELECT a.source AS source_a, b.source AS source_b, "
    "CAST(count(*) AS BIGINT) AS n_words, "
    "round(sum(abs(a.zq - b.zq)) / (1000000.0 * count(*)), 6) AS delta "
    "FROM z a JOIN z b ON a.w = b.w AND a.source < b.source "
    "GROUP BY 1, 2"
)


def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair: z-score each source's
    relative frequency of the corpus top-50 words (function words
    dominate by construction), then Delta = mean |z_a − z_b| — the
    standard stylometric authorship/provenance distance (Burrows 2002):
    two "different" sources with near-zero Delta share a generator,
    the provenance sibling of text_source_overlap's vocabulary view.

    Exactness: relative frequencies quantize to integer NANO-units via
    exact floor division; per-word mean/std come from exact HUGEINT/
    decimal(38) sums of those integers; each z-score is one double
    expression quantized to integer MICRO-units, so the pair sums are
    exact in any accumulation order and Delta is one double division
    rounded 6 dp. Zero-variance words drop on both engines; the top-50
    cut breaks count ties alphabetically (deterministic).

    Scale: the token stream collapses to (source, word) counts once;
    everything after runs on a |sources|×50 grid. The top-50 selection
    is a vocabulary-bounded sort (text_zipf's shape)."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    cw = tok.groupBy("w").agg(F.count("*").alias("c"))
    top = (
        cw.orderBy(F.col("c").desc(), F.col("w"))
        .limit(_DELTA_TOP_WORDS)
        .select("w")
    )
    st = tok.groupBy("source").agg(F.count("*").cast(_D38).alias("t"))
    cnt = (
        tok.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast(_D38).alias("c"))
    )
    grid = (
        st.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            "t",
            F.coalesce(F.col("c"), F.lit(0).cast(_D38)).alias("c"),
        )
    )
    num = F.col("c") * F.lit(1000000000).cast(_D38)
    fq = grid.select(
        "source",
        "w",
        ((num - F.pmod(num, F.col("t"))) / F.col("t")).cast(_D38).alias("f"),
    )
    ms = fq.groupBy("w").agg(
        F.count("*").cast(_D38).alias("k"),
        F.sum("f").cast(_D38).alias("f1"),
        F.sum(F.col("f") * F.col("f")).cast(_D38).alias("f2"),
    )
    k, f1, f2 = F.col("k"), F.col("f1"), F.col("f2")
    var_num = (k * f2 - f1 * f1).cast("double")
    zq = F.round(
        1000000
        * (F.col("f").cast("double") - f1.cast("double") / k.cast("double"))
        / F.sqrt(var_num / (k * (k - 1)).cast("double")),
        0,
    ).cast("long")
    z = (
        fq.join(ms, "w")
        .where((k >= 2) & (k * f2 - f1 * f1 > 0))
        .select("source", "w", zq.alias("zq"))
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("zq").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "w", F.col("zq").alias("zb"))
    return (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_words"),
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb")))
                / (1000000.0 * F.count("*")),
                6,
            ).alias("delta"),
        )
    )


# --- tar shard member index (WebDataset shape) -----------------------------------

_TAR_N = 40


def _tar_member_layout(sizes_by_id: dict[int, int]) -> dict[int, int]:
    """Byte offset of each member's DATA section when members are
    written in doc_id order (header block + ceil(size/512) data blocks
    each) — the oracle mirror of the physical layout."""
    off, out = 0, {}
    for doc_id in sorted(sizes_by_id):
        out[doc_id] = off + 512  # data starts after the 512-byte header
        off += 512 + 512 * ((sizes_by_id[doc_id] + 511) // 512)
    return out


MM_TAR_INDEX_ORACLE = (
    "WITH m AS ("
    f"  SELECT doc_id, strlen(text) AS sz FROM documents "
    f"  WHERE doc_id < {_TAR_N}"
    "), o AS ("
    "  SELECT doc_id, CAST(sz AS BIGINT) AS size_bytes, "
    "  CAST(512 + coalesce(sum(512 + 512 * ((sz + 511) // 512)) "
    "    OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
    "      AND 1 PRECEDING), 0) AS BIGINT) AS data_offset"
    "  FROM m"
    ") SELECT doc_id, doc_id || '.txt' AS name, size_bytes, data_offset, "
    "CAST((size_bytes + 511) // 512 AS BIGINT) AS n_data_blocks, "
    "TRUE AS valid_magic "
    "FROM o"
)


def mm_tar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar SHARD indexing ENTIRELY JVM-side: stage one
    REAL ustar archive holding the first {n} documents as ``<doc_id>.txt``
    members, then recover the member table (name, size, data offset)
    from the RAW BYTES — no tarfile module in the data path. Tar is the
    de-facto container for multimodal training shards (WebDataset);
    indexing members without unpacking is how a 100 TB lake builds
    sample manifests.

    The parse exploits tar's block structure: every 512-byte block is
    tested for a header signature — 'ustar' magic at byte 258 AND a
    ``<digits>.txt`` member name at byte 1 — and hits yield the name
    (NUL-terminated ASCII), the size (OCTAL ASCII at byte 125, parsed
    with conv(_, 8, 10)), and the data offset ((block+1)·512). A
    membership bitmap over candidate blocks replaces sequential
    offset-chasing, which a distributed scanner cannot do; the paired
    header checks make a false positive require document text that
    embeds both fields at exact block offsets (impossible in this
    fixture; the sequential mapInPandas walk is the general-corpus
    fallback, documented not built). The ORACLE re-derives every field
    — including each member's byte offset via a running sum over the
    source table — so a staging or parse defect fails the hash.

    Scale: binaryFile shards parallelize per archive; the block spine
    is sequence()-generated (no data shuffle) and only ≤100-byte slices
    of each blob feed the projection."""
    import hashlib
    import io
    import os
    import tarfile
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _TAR_N)
        .select("doc_id", "text")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_tar_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    rows = sorted(
        ((r.doc_id, r.text) for r in d.collect())
    )  # bounded fixture staging only
    if rows:
        with tarfile.open(
            f"{stage}/shard0.tar", "w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, text in rows:
                payload = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{doc_id}.txt")
                info.size = len(payload)
                info.mtime = 0  # deterministic archive bytes
                tf.addfile(info, io.BytesIO(payload))
    else:
        # empty corpus staged no members: typed empty (mm_png_meta rule)
        return spark.createDataFrame(
            [],
            "doc_id long, name string, size_bytes long, data_offset long, "
            "n_data_blocks long, valid_magic boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/shard0.tar")
    blocks = blobs.select(
        "content",
        F.explode(
            F.sequence(
                F.lit(0), (F.length("content") / 512).cast("long") - 1
            )
        ).alias("blk"),
    )
    hdr = blocks.select(
        "blk",
        F.expr("CAST(substring(content, blk * 512 + 258, 5) AS STRING)").alias(
            "magic"
        ),
        F.regexp_extract(
            F.expr("CAST(substring(content, blk * 512 + 1, 100) AS STRING)"),
            r"^(\d+)\.txt\x00",
            1,
        ).alias("doc_str"),
        F.expr(
            "conv(regexp_extract(CAST(substring(content, blk * 512 + 125, 12)"
            " AS STRING), '^([0-7]+)', 1), 8, 10)"
        )
        .cast("long")
        .alias("size_bytes"),
    ).where((F.col("magic") == "ustar") & (F.col("doc_str") != ""))
    return hdr.select(
        F.col("doc_str").cast("long").alias("doc_id"),
        F.concat(F.col("doc_str"), F.lit(".txt")).alias("name"),
        "size_bytes",
        ((F.col("blk") + 1) * 512).alias("data_offset"),
        ((F.col("size_bytes") + 511) / 512).cast("long").alias(
            "n_data_blocks"
        ),
        (F.col("magic") == "ustar").alias("valid_magic"),
    )


mm_tar_index.__doc__ = mm_tar_index.__doc__.format(n=_TAR_N)

# --- local clustering coefficient census ------------------------------------------


def _edges_oracle() -> str:
    """Exact near-dup edges (both directions) at the SAME threshold the
    Spark side's pair source verifies at: ``dedup.JACCARD_THRESHOLD``
    (0.6), shared by ``dedup_fuzzy_minhash``'s exact-Jaccard verify.
    One constant drives both engines so the operator and its oracle
    cannot silently diverge on datasets with pairs between thresholds
    (the round-8 ADVICE finding: the oracle previously hard-coded 0.3
    while the fn's LSH funnel verified at 0.6 — equal only because this
    fixture's Jaccard distribution is bimodal)."""
    from .dedup import JACCARD_THRESHOLD, SHINGLES_CTE, oracle_jaccard_pairs_select

    return (
        f"{SHINGLES_CTE}, "
        f"pairs AS ({oracle_jaccard_pairs_select(JACCARD_THRESHOLD, 'u', 'v')}), "
        "adj AS ("
        "  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs"
        ")"
    )


GRAPH_LOCAL_CLUSTERING_ORACLE = (
    _edges_oracle()
    + ", deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u), "
    "tri AS ("
    "  SELECT n1.u, CAST(count(*) AS BIGINT) AS t"
    "  FROM adj n1 JOIN adj n2 ON n2.u = n1.u AND n1.v < n2.v"
    "  JOIN pairs e ON e.u = n1.v AND e.v = n2.v"
    "  GROUP BY n1.u"
    "), cc AS ("
    "  SELECT deg.u, deg.d, "
    # micro-unit quantized coefficient => exact sums downstream
    "  CAST(round(1000000 * 2.0 * coalesce(tri.t, 0) "
    "    / (deg.d * (deg.d - 1.0))) AS BIGINT) AS ccq"
    "  FROM deg LEFT JOIN tri ON tri.u = deg.u WHERE deg.d >= 2"
    ") SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes, "
    "round(sum(ccq) / (1000000.0 * count(*)), 6) AS mean_cc, "
    "CAST(sum(CASE WHEN ccq = 1000000 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_closed "
    "FROM cc GROUP BY d"
)


def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient census of the exact near-dup graph
    (dedup_fuzzy_minhash edges, verified J ≥ dedup.JACCARD_THRESHOLD =
    0.6 — the oracle derives its edge set from the SAME constant): per
    degree, how many nodes,
    their mean local coefficient cc(v) = 2·tri(v)/(d(d−1)), and how many
    close into full cliques — "are duplicate neighborhoods cliques or
    chains?", which decides whether keep-one-per-CLUSTER collapse
    (cliques — transitive duplication) or pairwise adjudication
    (chains — A~B~C but A≁C) is the right dedup policy.
    graph_triangle_stats reports the GLOBAL census; this is the
    per-node view aggregated by degree.

    Exactness: triangles and degrees are exact integers from the
    wedge-closure join; each coefficient quantizes to integer
    MICRO-units (identical double tree both engines) so per-degree
    means sum exactly; one double division per output cell, rounded 6.

    Scale: pair discovery goes through the LSH funnel — the registered
    ``dedup_fuzzy_minhash`` (banded MinHash candidates → exact-Jaccard
    verify), driver-hash-verified EQUAL to the exact inverted-index pair
    set on this fixture (text_bleu's rationale: the exact postings
    self-join is Σfreq²-quadratic here — measured 13.9 s vs ~2 s at
    sf0.1), persisted once (graph_modularity precedent) because the
    degree, wedge and closure stages each reference it. The wedge join
    fans each node's neighbor list to d² pairs — Σd² bounded by the
    LSH-verified pair graph (sparse by construction); the closure probe
    is edge-keyed. This is the standard distributed triangle shape
    (node-iterator join); for power-law graphs the compact-forward
    ordering (probe only u<v<w) halves it — noted, not needed at this
    graph's density."""
    from .dedup import dedup_fuzzy_minhash

    with persisting() as keep:
        p = keep(dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"))
        p.count()  # materialize so every consumer reads the cache
        pairs = p.select(
            F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
        )
        adj = pairs.unionAll(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = adj.groupBy("u").agg(F.count("*").alias("d"))
        n1 = adj.select("u", F.col("v").alias("v1"))
        n2 = adj.select("u", F.col("v").alias("v2"))
        wedges = n1.join(n2, "u").where(F.col("v1") < F.col("v2"))
        tri = (
            wedges.join(
                pairs.select(
                    F.col("u").alias("v1"), F.col("v").alias("v2")
                ),
                ["v1", "v2"],
            )
            .groupBy("u")
            .agg(F.count("*").alias("t"))
        )
        cc = (
            deg.join(tri, "u", "left")
            .where(F.col("d") >= 2)
            .select(
                "d",
                F.round(
                    1000000
                    * 2.0
                    * F.coalesce(F.col("t"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1.0)),
                    0,
                )
                .cast("long")
                .alias("ccq"),
            )
        )
        out = cc.groupBy(F.col("d").alias("degree")).agg(
            F.count("*").alias("n_nodes"),
            F.round(F.sum("ccq") / (1000000.0 * F.count("*")), 6).alias(
                "mean_cc"
            ),
            F.sum(F.when(F.col("ccq") == 1000000, 1).otherwise(0)).alias(
                "n_closed"
            ),
        )
        return pin(out)


DEV_CASES = [
    (
        "dedup_capture_recapture",
        dedup_capture_recapture,
        _cr_oracle(),
    ),
    ("stat_kendall", stat_kendall, STAT_KENDALL_ORACLE),
    ("sample_neyman", sample_neyman, SAMPLE_NEYMAN_ORACLE),
    ("text_burrows_delta", text_burrows_delta, TEXT_BURROWS_DELTA_ORACLE),
    ("mm_tar_index", mm_tar_index, MM_TAR_INDEX_ORACLE),
    (
        "graph_local_clustering",
        graph_local_clustering,
        GRAPH_LOCAL_CLUSTERING_ORACLE,
    ),
]
