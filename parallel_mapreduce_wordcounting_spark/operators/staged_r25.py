"""Calibration / community / spectral / sampling wave. Like every ``staged_r*``
module with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r25.py holds the independent
property checks.

Contents:

- ``stat_isotonic`` — isotonic (PAV) recalibration of the
  ``stat_calibration`` curve via the exact minimax characterization
  f_i = max_{s≤i} min_{t≥i} avg(s..t), computed as a bounded
  pair-enumeration over the 10-bin spine — the monotone fit model
  calibrators actually ship (Zadrozny & Elkan 2002), with the same
  bin/label convention as the registered calibration curve.
- ``graph_label_prop`` — 4 synchronous rounds of label propagation
  (Raghavan 2007; mode-of-neighbor-labels, min-label tiebreak) over the
  verified near-dup graph: community detection that, unlike the
  components family, FRAGMENTS weakly-bridged chains while keeping
  dense duplicate families together.
- ``event_periodogram`` — discrete-Fourier spectral power of the daily
  event-count series at candidate periods 2–14 days, on n-scaled
  INTEGER-centered counts (the stat_autocorr trick) normalized by total
  variance — "which cycle length dominates?", the frequency-domain
  companion of event_seasonality/event_seasonal_decompose.
- ``win_bollinger`` — 7-day rolling mean ± 2σ bands with breakout flags
  over daily purchase revenue (exact integer window sums; the classic
  volatility-band anomaly screen beside win_hampel's median filter).
- ``sample_kfold`` — deterministic lang-stratified 5-fold assignment by
  md5 rank (per-stratum fold sizes differ by ≤ 1 by construction) —
  the cross-validation splitter beside split_train_val's single split.
- ``mm_jpeg_meta`` — JPEG dimensions parsed from REAL JPEG bytes
  ENTIRELY JVM-side by walking the marker-segment chain (SOI → APP0 →
  variable-length COM → SOF0) with substring/hex/conv arithmetic — no
  Python UDF, no codec; unlike mm_png_meta's fixed-offset IHDR, the
  SOF0 offset here VARIES per file, so the expression genuinely walks
  segments the way a triage scanner must.

Exactness doctrine: unchanged — PAV pools exact integer prefix sums
(min/max over bit-identical division results); LPA is pure integer mode
counting; the periodogram centers integrally before any cos/sin
(transcendentals per-cell only, absorbed by 6 dp rounding of a
variance-normalized ratio); bollinger variance numerators are exact
decimal(38) ints; kfold ranks on md5 strings both engines hash
identically; JPEG fields are pure byte arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- isotonic (PAV) recalibration --------------------------------------------------

_ISO_BINS = 10

_ISO_BIN_CTES = (
    "lab AS ("
    "  SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
    "  AS y FROM events"
    "), mm AS (SELECT min(v) AS lo, max(v) AS hi FROM lab), "
    "binned AS ("
    f"  SELECT CASE WHEN mm.hi = mm.lo THEN 0 ELSE "
    f"  least(CAST(floor((v - mm.lo) / ((mm.hi - mm.lo) / {_ISO_BINS})) "
    f"  AS BIGINT), {_ISO_BINS - 1}) END AS bin, y FROM lab, mm"
    "), bins AS ("
    "  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c"
    "  FROM binned GROUP BY bin"
    ")"
)

STAT_ISOTONIC_ORACLE = (
    f"WITH {_ISO_BIN_CTES}, "
    "cum AS ("
    "  SELECT bin, n, c, "
    "  CAST(sum(n) OVER w AS BIGINT) AS cn, CAST(sum(c) OVER w AS BIGINT) AS cc, "
    "  CAST(coalesce(sum(n) OVER wp, 0) AS BIGINT) AS pn, "
    "  CAST(coalesce(sum(c) OVER wp, 0) AS BIGINT) AS pc "
    "  FROM bins WINDOW "
    "  w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
    "  wp AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    "), pairs AS ("
    "  SELECT s.bin AS sb, t.bin AS tb, "
    "  (t.cc - s.pc) / (1.0 * (t.cn - s.pn)) AS a "
    "  FROM cum s JOIN cum t ON s.bin <= t.bin"
    "), fit AS ("
    "  SELECT i.bin, max(mn) AS iso_rate_raw FROM ("
    "    SELECT i.bin, p.sb, min(p.a) AS mn "
    "    FROM bins i JOIN pairs p ON p.sb <= i.bin AND p.tb >= i.bin "
    "    GROUP BY i.bin, p.sb"
    "  ) i GROUP BY i.bin"
    ") SELECT b.bin, b.n, b.c, round(b.c / (1.0 * b.n), 6) AS raw_rate, "
    "round(f.iso_rate_raw, 6) AS iso_rate "
    "FROM bins b JOIN fit f ON b.bin = f.bin"
)


def stat_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) over the
    ``stat_calibration`` reliability curve — same equal-width value bins,
    same purchase label — via the exact minimax characterization of the
    PAV solution: f_i = max_{s≤i} min_{t≥i} (Σ_{s..t} c)/(Σ_{s..t} n)
    (Robertson/Wright/Dykstra 1988, Thm 1.4.4). The monotone fit is what
    a score recalibrator ships (Zadrozny & Elkan 2002): raw bin rates
    wiggle non-monotonically (this fixture's curve does), the isotonic
    rates pool the violating bins into level sets.

    Determinism: the pooled averages derive from exact integer prefix
    sums (one division per (s,t) pair — identical IEEE trees), and min/
    max over bit-identical doubles are exact, so the fit is
    bit-deterministic before its 6 dp display rounding.

    Scale: the event volume is absorbed by ONE map-side-combined bin
    aggregate; everything after runs on the ≤10-row bin spine (the
    bounded O(B²) pair enumeration replaces the inherently sequential
    PAV stack walk — B is a constant, corpus size is not). The bin
    windows are over that spine, not data."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    mm = lab.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = lab.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _ISO_BINS)
                ).cast("long"),
                F.lit(_ISO_BINS - 1),
            )
        )
        .alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("c"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.select(
        "bin",
        "n",
        "c",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("c").over(w).cast("long").alias("cc"),
        F.coalesce(F.sum("n").over(wp), F.lit(0)).cast("long").alias("pn"),
        F.coalesce(F.sum("c").over(wp), F.lit(0)).cast("long").alias("pc"),
    )
    s = cum.select(
        F.col("bin").alias("sb"), F.col("pn").alias("pn"), F.col("pc").alias("pc")
    )
    t = cum.select(
        F.col("bin").alias("tb"), F.col("cn").alias("cn"), F.col("cc").alias("cc")
    )
    pairs = s.join(t, F.col("sb") <= F.col("tb")).select(
        "sb",
        "tb",
        ((F.col("cc") - F.col("pc")) / (1.0 * (F.col("cn") - F.col("pn")))).alias(
            "a"
        ),
    )
    fit = (
        bins.select("bin")
        .join(pairs, (F.col("sb") <= F.col("bin")) & (F.col("tb") >= F.col("bin")))
        .groupBy("bin", "sb")
        .agg(F.min("a").alias("mn"))
        .groupBy("bin")
        .agg(F.max("mn").alias("iso_rate_raw"))
    )
    return bins.join(fit, "bin").select(
        "bin",
        "n",
        "c",
        F.round(F.col("c") / (1.0 * F.col("n")), 6).alias("raw_rate"),
        F.round("iso_rate_raw", 6).alias("iso_rate"),
    )


# --- label propagation communities over the near-dup graph -------------------------

_LPA_ROUNDS = 4


def lpa_cte_chain() -> str:
    """The full LPA oracle CTE chain (shingles → edges e0 → labels
    l0..l{_LPA_ROUNDS}) WITHOUT a final SELECT — shared with
    staged_r28.graph_modularity's oracle, which scores these labels."""
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    sql = (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3)}"
        "), e0 AS MATERIALIZED ("
        "  SELECT da AS u, db AS v FROM p UNION ALL SELECT db, da FROM p"
        "), l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lab "
        "FROM documents)"
    )
    for i in range(1, _LPA_ROUNDS + 1):
        sql += (
            f", c{i} AS MATERIALIZED ("
            f"  SELECT e.u AS node, l.lab, count(*) AS k FROM e0 e "
            f"  JOIN l{i - 1} l ON e.v = l.node GROUP BY e.u, l.lab"
            f"), m{i} AS MATERIALIZED ("
            f"  SELECT node, lab FROM (SELECT node, lab, "
            f"  row_number() OVER (PARTITION BY node ORDER BY k DESC, lab)"
            f"  AS rn FROM c{i}) WHERE rn = 1"
            f"), l{i} AS MATERIALIZED ("
            f"  SELECT p.node, coalesce(m.lab, p.lab) AS lab FROM l{i - 1} p "
            f"  LEFT JOIN m{i} m ON p.node = m.node)"
        )
    return sql


def _lpa_oracle() -> str:
    return lpa_cte_chain() + (
        f" SELECT l.node AS doc_id, CAST(l.lab AS BIGINT) AS community, "
        "CAST(s.cs AS BIGINT) AS community_size "
        f"FROM l{_LPA_ROUNDS} l JOIN (SELECT lab, count(*) AS cs "
        f"FROM l{_LPA_ROUNDS} GROUP BY lab) s ON l.lab = s.lab"
    )


GRAPH_LABEL_PROP_ORACLE = _lpa_oracle()


def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by 4 SYNCHRONOUS rounds of label propagation
    (Raghavan et al. 2007) over the verified near-dup graph (edges from
    the registered, driver-hash-verified ``dedup_fuzzy_minhash`` pair
    set): every node starts as its own label; each round every node with
    neighbors adopts the MODE of its neighbors' labels (ties → smallest
    label); isolated docs keep their own. Unlike the components family
    (dedup_cluster/dedup_cluster_star: everything reachable merges), LPA
    keeps DENSE duplicate families together while weakly-bridged chains
    fragment — the grouping semantic-dedup actually wants when template
    farms are chained by borderline pairs.

    Determinism: synchronous rounds + integer mode counts + min-label
    tiebreak make every round a pure function of the previous labeling —
    no randomized visit order (the asynchronous variant's
    nondeterminism is exactly what this construction removes). The
    round count is FIXED at 4 (unrolled in the oracle); the test pins a
    Python replay of the same recurrence.

    Scale: per round, one hash join (edges ⋈ labels on the neighbor
    key), one integer mode aggregate, one per-node window over that
    node's label counts — all partitioned by node, never global.
    4 rounds is the standard near-convergence budget; each is O(|E|)."""
    from .dedup import dedup_fuzzy_minhash

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("lab")
    )
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    # pin the MinHash edge set ONCE: lpa_labels' rounds (and the final
    # size join) otherwise re-execute the whole pair pipeline per plan
    # reference — exactly the re-execution its docstring warns composers
    # about (graph_modularity persists; this pins)
    edges = pin(
        pairs.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .unionByName(
            pairs.select(
                F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v")
            )
        )
    )
    labels = lpa_labels(docs, edges)
    sizes = labels.groupBy("lab").agg(F.count("*").cast("long").alias("cs"))
    return labels.join(sizes, "lab").select(
        F.col("node").alias("doc_id"),
        F.col("lab").cast("long").alias("community"),
        F.col("cs").alias("community_size"),
    )


def lpa_labels(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """The 4 synchronous LPA rounds over explicit (node, lab) starts and
    directed (u, v) edges — factored out so composers (e.g.
    staged_r28.graph_modularity) can persist the EDGE set once and reuse
    it; each round's lineage references `edges` twice-per-round, so an
    unpersisted expensive edge source would re-execute O(rounds) times."""
    labels = docs
    wmode = Window.partitionBy("node").orderBy(F.desc("k"), F.asc("lab"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels.select(F.col("node").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count("*").alias("k"))
        )
        mode = (
            cnt.withColumn("rn", F.row_number().over(wmode))
            .where(F.col("rn") == 1)
            .select("node", F.col("lab").alias("new_lab"))
        )
        # truncate the label lineage per round (min_label_propagation
        # pattern): the recurrence references `labels` twice per round, so
        # an untruncated tree doubles each round — 2^rounds references to
        # the edge source in the final plan
        labels = pin(
            labels.join(mode, "node", "left").select(
                "node", F.coalesce("new_lab", "lab").alias("lab")
            )
        )
    return labels


# --- integer-centered periodogram ---------------------------------------------------

_PERIODS = list(range(2, 15))
_TWO_PI = 2.0 * math.pi

EVENT_PERIODOGRAM_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM events GROUP BY 1"
    "), tot AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s, "
    "  min(day) AS d0 FROM g"
    "), cx AS ("
    "  SELECT day - d0 AS di, n * cnt - s AS xc, n FROM g, tot WHERE n > 1"
    "), sstot AS ("
    "  SELECT CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS v FROM cx"
    "), spec AS ("
    f"  SELECT p, sum(xc * cos(CAST({_TWO_PI!r} AS DOUBLE) * di / p)) AS cr, "
    f"  sum(xc * sin(CAST({_TWO_PI!r} AS DOUBLE) * di / p)) AS ci "
    f"  FROM cx CROSS JOIN (SELECT unnest(range(2, 15)) AS p) GROUP BY p"
    ") SELECT CAST(p AS BIGINT) AS period, "
    "round((cr * cr + ci * ci) / CAST(v AS DOUBLE), 6) AS power "
    "FROM spec, sstot WHERE v > 0"
)


def event_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier spectral power of the daily event-count series at
    candidate periods 2–14 days: power(p) = |Σ_d x_d·e^{−2πi·d/p}|² /
    Σ x_d², with x the n-scaled integer-centered counts (n·cnt − Σcnt —
    the stat_autocorr trick, so centering is EXACT and no DC component
    leaks into any period). A weekly cycle shows as the p=7 peak; the
    frequency-domain companion of ``event_seasonality``'s single index
    and ``event_seasonal_decompose``'s additive components.

    Determinism: the centered series and the variance normalizer are
    exact integers; cos/sin are the wave's only transcendentals,
    evaluated per (day, period) CELL on bit-identical double arguments
    (day indices are RELATIVE to min-day, keeping arguments small so
    libm argument-reduction differences can't amplify); the ≤2-ulp
    cos/sin spread washes out in the variance-normalized ratio's 6 dp
    rounding.

    Scale: the day-grain aggregate absorbs the event volume; the
    spectral sum is a 13-row literal spine broadcast-crossed with the
    calendar-bounded day series (the stat_kde_grid shape), map-side
    combined down to 13 groups."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s"),
        F.min("day").alias("d0"),
    )
    cx = (
        g.crossJoin(F.broadcast(tot))
        .where(F.col("n") > 1)
        .select(
            (F.col("day") - F.col("d0")).alias("di"),
            (F.col("n") * F.col("cnt") - F.col("s")).alias("xc"),
        )
    )
    sstot = cx.agg(
        F.sum(F.col("xc").cast(_D38) * F.col("xc")).alias("v")
    )
    ps = spark.createDataFrame([(p,) for p in _PERIODS], "p long")
    arg = F.lit(_TWO_PI) * F.col("di") / F.col("p")
    spec = (
        cx.crossJoin(F.broadcast(ps))
        .groupBy("p")
        .agg(
            F.sum(F.col("xc") * F.cos(arg)).alias("cr"),
            F.sum(F.col("xc") * F.sin(arg)).alias("ci"),
        )
    )
    return (
        spec.crossJoin(F.broadcast(sstot))
        .where(F.col("v") > 0)
        .select(
            F.col("p").alias("period"),
            F.round(
                (F.col("cr") * F.col("cr") + F.col("ci") * F.col("ci"))
                / F.col("v").cast("double"),
                6,
            ).alias("power"),
        )
    )


# --- Bollinger volatility bands ------------------------------------------------------

WIN_BOLLINGER_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS rev "
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), w AS ("
    "  SELECT day, rev, CAST(sum(rev) OVER ww AS BIGINT) AS s, "
    "  CAST(sum(CAST(rev AS HUGEINT) * rev) OVER ww AS HUGEINT) AS ss, "
    "  count(*) OVER ww AS k7 FROM g "
    "  WINDOW ww AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    ") SELECT day, rev AS rev_cents, "
    "round(s / 7.0, 6) AS mean7, "
    "round(sqrt(CAST(7 * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / 49.0), 6)"
    " AS sigma7, "
    "CAST(CASE WHEN rev > s / 7.0 "
    "  + 2.0 * sqrt(CAST(7 * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / 49.0)"
    "  THEN 1 WHEN rev < s / 7.0 "
    "  - 2.0 * sqrt(CAST(7 * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / 49.0)"
    "  THEN -1 ELSE 0 END AS BIGINT) AS breakout "
    "FROM w WHERE k7 = 7"
)


def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing Bollinger bands over daily purchase revenue: rolling
    mean ± 2σ (population σ over the window) with a breakout flag (+1
    above the upper band, −1 below the lower) — the volatility-scaled
    anomaly screen beside ``win_hampel``'s median filter (Bollinger
    bands flag moves unusual RELATIVE TO RECENT volatility, Hampel flags
    absolute median deviations). Trailing windows only (6 preceding +
    current), full windows required — the causal form a live monitor
    uses.

    Determinism: the window sums s and ss are exact integers (cents,
    decimal(38) for the squares), the variance numerator 7·ss − s² is
    an exact integer, and mean/σ/band comparisons are identical IEEE
    trees (sqrt correctly rounded) — so the breakout flag, an inherently
    knife-edge comparison, is decided on bit-identical doubles.

    Scale: the day-grain aggregate absorbs the event volume; the rolling
    window runs over the CALENDAR-BOUNDED day series (stat_spearman
    precedent)."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).cast("long").alias("rev"))
    )
    ww = Window.orderBy("day").rowsBetween(-6, 0)
    w = g.select(
        "day",
        "rev",
        F.sum("rev").over(ww).cast("long").alias("s"),
        F.sum(F.col("rev").cast(_D38) * F.col("rev")).over(ww).alias("ss"),
        F.count("*").over(ww).alias("k7"),
    )
    mean7 = F.col("s") / 7.0
    sigma7 = F.sqrt(
        (7 * F.col("ss") - F.col("s").cast(_D38) * F.col("s")).cast("double")
        / 49.0
    )
    return w.where(F.col("k7") == 7).select(
        "day",
        F.col("rev").alias("rev_cents"),
        F.round(mean7, 6).alias("mean7"),
        F.round(sigma7, 6).alias("sigma7"),
        F.when(F.col("rev") > mean7 + 2.0 * sigma7, 1)
        .when(F.col("rev") < mean7 - 2.0 * sigma7, -1)
        .otherwise(0)
        .cast("long")
        .alias("breakout"),
    )


# --- stratified k-fold assignment ----------------------------------------------------

_KFOLDS = 5

SAMPLE_KFOLD_ORACLE = (
    "WITH r AS ("
    "  SELECT doc_id, lang, n_chars, "
    "  row_number() OVER (PARTITION BY lang "
    "  ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk FROM documents"
    f") SELECT (rk - 1) % {_KFOLDS} AS fold, lang, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS tot_chars, "
    "CAST(min(doc_id) AS BIGINT) AS min_doc "
    "FROM r GROUP BY 1, 2"
)


def sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-STRATIFIED 5-fold cross-validation
    assignment: within each lang stratum, docs rank by md5(doc_id) (a
    replayable pseudo-random order both engines hash identically — the
    sample_* family convention) and fold = (rank−1) mod 5, so per-stratum
    fold sizes differ by at most 1 BY CONSTRUCTION — no randomness, no
    seed drift between runs, and adding a doc only moves ranks after its
    hash. The k-fold generalization of the registered
    ``split_train_val``; reported at (fold, lang) grain with doc and
    char counts so downstream training can verify balance before any
    epoch runs.

    Determinism: md5 of the decimal doc_id string is identical on both
    engines; distinct doc_ids give distinct digests, so the rank order
    is total — integer arithmetic everywhere after.

    Scale: one per-stratum window (partitioned by lang — parallel across
    strata) and one aggregate; for a stratum too large for one
    partition's sort, the same rank is computable with the distributed
    two-pass prefix-sum over hash-range buckets (pack_sequences
    convention) — at this fixture's strata the window form is the
    simpler, equally-exact choice."""
    d = load_table(spark, sf_dir, "documents")
    wr = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    r = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number().over(wr).alias("rk"),
    )
    return (
        # cast matches the oracle's BIGINT fold (row_number is int32 in
        # Spark, bigint in DuckDB — the r10 output-type parity fix)
        r.groupBy(
            ((F.col("rk") - 1) % _KFOLDS).cast("long").alias("fold"), "lang"
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("tot_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
    )


# --- JPEG marker-walk metadata (codec-free multimodal) -------------------------------

_JPEG_DOCS = 40
_JPEG_SOI = "FFD8"
_JPEG_SOF0 = "FFC0"

MM_JPEG_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(16 + n_chars % 624 AS BIGINT) AS width, "
    "CAST(16 + (doc_id * 41) % 464 AS BIGINT) AS height, "
    "CAST(8 AS BIGINT) AS precision, "
    "CAST(45 + doc_id % 17 AS BIGINT) AS n_bytes, "
    "TRUE AS valid_soi "
    f"FROM documents WHERE doc_id < {_JPEG_DOCS}"
)


def mm_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG dimensions (width/height/precision) parsed from REAL JPEG
    bytes ENTIRELY JVM-side by WALKING the marker-segment chain — SOI,
    then length-prefixed segments (APP0/JFIF, a variable-length COM
    comment, SOF0) — with substring/hex/conv arithmetic on the
    BinaryType content column: position expressions are column-valued
    (each segment's start = previous start + 2 + its big-endian length
    field), so unlike ``mm_png_meta``'s fixed-offset IHDR this genuinely
    walks the container the way a lake triage scanner must (JPEG puts
    SOF0 at a file-dependent offset). No Python UDF, no codec — at
    100 TB, metadata extraction should never decode pixels.

    40 deterministic JPEGs are staged from the documents table (width
    from n_chars, height from doc_id·41, COM length from doc_id mod 17 —
    so the ORACLE derives every field from the source table and any
    staging/scan/walk corruption fails the hash). Entropy-coded data is
    omitted: this op parses structure; mm_binary_surface's decode stub
    remains the documented codec boundary.

    Scale: binaryFile scan parallelizes per file; the walk touches ≤4
    markers' worth of 2–4-byte slices per blob, and only scalars
    shuffle."""
    import hashlib
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _JPEG_DOCS)
        .select("doc_id", "n_chars")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_jpeg_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 40 bounded fixture rows — staging only
        width = 16 + r.n_chars % 624
        height = 16 + (r.doc_id * 41) % 464
        com_payload = b"x" * (r.doc_id % 17)
        app0 = (
            b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1)
            + bytes([0, 0])
        )
        com = b"\xff\xfe" + struct.pack(">H", 2 + len(com_payload)) + com_payload
        sof0 = (
            b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
            + struct.pack(">HH", height, width) + bytes([3])
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        )
        jpg = b"\xff\xd8" + app0 + com + sof0 + b"\xff\xd9"
        assert len(jpg) == 45 + r.doc_id % 17
        with open(f"{stage}/{r.doc_id}.jpg", "wb") as f:
            f.write(jpg)
    if not os.listdir(stage):
        # empty corpus staged zero blobs: typed empty frame instead of a
        # PATH_NOT_FOUND on the glob (empty-corpus sweep convention)
        return spark.createDataFrame(
            [],
            "doc_id long, width long, height long, precision long, "
            "n_bytes long, valid_soi boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.jpg")

    # the marker walk, as SQL strings so positions can be column-valued
    # (python F.substring only takes literal positions): p0 starts after
    # SOI; each step either stops at SOF0 or advances by 2 + be16(len).
    def be16(pos: str) -> str:
        return f"CAST(conv(hex(substring(content, ({pos}) + 2, 2)), 16, 10) AS BIGINT)"

    def marker(pos: str) -> str:
        return f"hex(substring(content, {pos}, 2))"

    pos = "3"
    sof = "CAST(NULL AS BIGINT)"
    for _ in range(4):  # ≥ segments before SOF0 in any staged file
        sof = (
            f"coalesce({sof}, CASE WHEN {marker(pos)} = '{_JPEG_SOF0}' "
            f"THEN {pos} END)"
        )
        pos = f"(({pos}) + 2 + {be16(pos)})"
    def be16_at(off: int):
        # big-endian uint16 at the (column-valued) SOF0 offset + off
        return F.expr(
            f"CAST(conv(hex(substring(content, ({sof}) + {off}, 2)), 16, 10) "
            "AS BIGINT)"
        )

    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.jpg$", 1)
        .cast("long")
        .alias("doc_id"),
        be16_at(7).alias("width"),
        be16_at(5).alias("height"),
        F.expr(
            f"CAST(conv(hex(substring(content, ({sof}) + 4, 1)), 16, 10) AS BIGINT)"
        ).alias("precision"),
        F.col("length").alias("n_bytes"),
        (F.hex(F.substring("content", 1, 2)) == _JPEG_SOI).alias("valid_soi"),
    )


DEV_CASES = [
    ("stat_isotonic", stat_isotonic, STAT_ISOTONIC_ORACLE),
    ("graph_label_prop", graph_label_prop, GRAPH_LABEL_PROP_ORACLE),
    ("event_periodogram", event_periodogram, EVENT_PERIODOGRAM_ORACLE),
    ("win_bollinger", win_bollinger, WIN_BOLLINGER_ORACLE),
    ("sample_kfold", sample_kfold, SAMPLE_KFOLD_ORACLE),
    ("mm_jpeg_meta", mm_jpeg_meta, MM_JPEG_META_ORACLE),
]
