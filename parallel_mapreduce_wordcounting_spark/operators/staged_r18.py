"""Uncertainty / time-series-diagnostics / integrity wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r18.py holds the independent property checks.

Contents:

- ``stat_jackknife`` — delete-one (per-user cluster) jackknife standard
  error for the revenue-per-purchase RATIO metric: the deterministic
  uncertainty machine for ratio metrics (bootstrap needs RNG; the
  jackknife is closed-form and replays bit-identically), with every
  pseudo-value quantized to integer MICROCENTS so all accumulation is
  exact at any partition count.
- ``stat_autocorr`` — autocorrelation of the daily purchase-revenue
  series at lags 1–7 plus the running Ljung–Box Q portmanteau statistic:
  "is yesterday informative about today?" — the stationarity screen any
  forecasting pipeline runs before fitting.
- ``win_hampel`` — Hampel filter (7-day centered rolling median ± 3
  scaled MADs) over the daily-revenue series: the robust outlier
  detector that a single spike cannot mask (unlike z-scores, where the
  spike inflates its own threshold).
- ``dq_referential`` — orphan-foreign-key census over all seven FK edges
  of the warehouse graph (lineitem→orders/part/supplier, orders→customer,
  customer/supplier→nation, nation→region): the referential-integrity
  audit every ingest gate runs.
- ``mm_gif_meta`` — GIF87a/89a header parse from REAL staged files,
  ENTIRELY JVM-side: little-endian uint16 logical-screen dimensions plus
  PACKED BITFIELD extraction (global-color-table flag / size) — the
  fourth binary container beside PNG (big-endian), WAV (little-endian
  chunked), and NPY (text header), adding sub-byte field decoding.
- ``stat_gumbel`` — extreme-value analysis: daily block maxima of HOURLY
  revenue, Gumbel method-of-moments fit, and return levels at 7/14/30/90
  day horizons — "how large an hourly spike should we provision for?"

Exactness doctrine: unchanged — exact integer/decimal(38) accumulation
everywhere a sum crosses partitions (cents, microcent pseudo-values,
n-scaled centered products), doubles only in final reported expressions
rounded ≤6 dp, and every cross-engine inequality decided on identical
IEEE expression trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day, ts_us
from .exact import floor_day_us_sql, floor_div_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# Euler–Mascheroni constant; the literal appears verbatim in both engines'
# expressions so the parsed double is bit-identical.
_EULER_GAMMA = "0.5772156649015329"

# --- delete-one jackknife for a ratio metric ----------------------------------

STAT_JACKKNIFE_ORACLE = (
    "WITH per_user AS ("
    "  SELECT user_id, "
    f"  CAST(sum({money_cents_sql('value')}) AS HUGEINT) AS s_cents, "
    "  CAST(count(*) AS HUGEINT) AS n_ev"
    "  FROM events WHERE event_type = 'purchase' GROUP BY user_id"
    "), tot AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n_users, "
    "  CAST(sum(s_cents) AS HUGEINT) AS s_all, "
    "  CAST(sum(n_ev) AS HUGEINT) AS n_all FROM per_user"
    "), pseudo AS ("
    # pseudo-value = leave-one-user-out mean purchase value, quantized to
    # integer microcents: all-positive, so // (truncation) == floor.
    "  SELECT ((t.s_all - p.s_cents) * 1000000) // (t.n_all - p.n_ev) AS q"
    "  FROM per_user p, tot t"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  CAST(sum(q) AS HUGEINT) AS sq1, "
    "  CAST(sum(q * q) AS HUGEINT) AS sq2 FROM pseudo"
    ") SELECT CAST(s.n AS BIGINT) AS n_users, "
    "CAST(t.n_all AS BIGINT) AS n_events, "
    "round(CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE) / 100.0, 6) "
    "  AS theta, "
    # jackknife variance of the pseudo-values: (n-1)/n * sum((q - qbar)^2)
    # = (n-1) * (n*sq2 - sq1^2) / n^3, all-integer until the final sqrt
    "round(sqrt(CAST((s.n - 1) * (s.n * s.sq2 - s.sq1 * s.sq1) AS DOUBLE) "
    "     / CAST(s.n * s.n * s.n AS DOUBLE)) / 1e8, 6) AS jk_se, "
    "round(CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE) / 100.0 "
    " - 1.96 * sqrt(CAST((s.n - 1) * (s.n * s.sq2 - s.sq1 * s.sq1) AS DOUBLE)"
    "     / CAST(s.n * s.n * s.n AS DOUBLE)) / 1e8, 6) AS ci_lo, "
    "round(CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE) / 100.0 "
    " + 1.96 * sqrt(CAST((s.n - 1) * (s.n * s.sq2 - s.sq1 * s.sq1) AS DOUBLE)"
    "     / CAST(s.n * s.n * s.n AS DOUBLE)) / 1e8, 6) AS ci_hi "
    "FROM s, tot t WHERE s.n >= 2"
)


def stat_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife standard error for revenue-per-purchase, with
    USERS as the resampling clusters — the correct unit when events within
    a user are correlated (the classic A/B ratio-metric mistake is
    resampling events). Bootstrap (sample_bootstrap / stat_bootstrap_ci)
    needs an RNG; the jackknife is CLOSED-FORM: n leave-one-out estimates
    θ₍ᵤ₎ = (S−sᵤ)/(N−nᵤ), variance (n−1)/n·Σ(θ₍ᵤ₎−θ̄)² — so it replays
    bit-identically on any engine and any partition count.

    Exactness: each pseudo-value is quantized to integer MICROCENTS by an
    EXACT floor division — Spark decimal division rounds to scale 6 before
    floor, so ``(a − pmod(a,b))/b`` subtracts the remainder first, making
    the quotient integral and the division exact (probed: a bare
    ``floor(a/b)`` mis-rounds when the true fraction is within 5e-7 of 1,
    reachable once clusters exceed ~2M events). Sums of q and q² stay in
    decimal(38)/HUGEINT (q ~ 1e10 µ¢ ⇒ Σq² ~ 1e26 at 1e6 users — headroom
    to beyond sf100); se/CI are single double expressions rounded 6 dp.

    Scale: one map-side-combining aggregate absorbs the event volume into
    per-user rows; totals ride a 1-row broadcast. Fewer than 2 users ⇒
    zero rows (the jackknife is undefined), matching the oracle's WHERE."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(money_cents(F.col("value"))).cast(_D38).alias("s_cents"),
            F.count("*").cast(_D38).alias("n_ev"),
        )
    )
    tot = per_user.agg(
        F.count("*").cast(_D38).alias("n_users"),
        F.sum("s_cents").cast(_D38).alias("s_all"),
        F.sum("n_ev").cast(_D38).alias("n_all"),
    )
    a = (F.col("s_all") - F.col("s_cents")) * F.lit(1000000).cast(_D38)
    b = F.col("n_all") - F.col("n_ev")
    q = ((a - F.pmod(a, b)) / b).cast(_D38)
    pseudo = per_user.crossJoin(F.broadcast(tot)).select(q.alias("q"))
    s = pseudo.agg(
        F.count("*").cast(_D38).alias("n"),
        F.sum("q").cast(_D38).alias("sq1"),
        F.sum(F.col("q") * F.col("q")).cast(_D38).alias("sq2"),
    )
    n, sq1, sq2 = F.col("n"), F.col("sq1"), F.col("sq2")
    theta = F.col("s_all").cast("double") / F.col("n_all").cast("double") / 100.0
    se = (
        F.sqrt(
            ((n - 1) * (n * sq2 - sq1 * sq1)).cast("double")
            / (n * n * n).cast("double")
        )
        / 1e8
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .where(n >= 2)
        .select(
            n.cast("long").alias("n_users"),
            F.col("n_all").cast("long").alias("n_events"),
            F.round(theta, 6).alias("theta"),
            F.round(se, 6).alias("jk_se"),
            F.round(theta - 1.96 * se, 6).alias("ci_lo"),
            F.round(theta + 1.96 * se, 6).alias("ci_hi"),
        )
    )


# --- autocorrelation + Ljung–Box ----------------------------------------------

STAT_AUTOCORR_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS HUGEINT) AS x"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS ("
    "  SELECT row_number() OVER (ORDER BY day) AS rk, x FROM g"
    "), tot AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  CAST(sum(x) AS HUGEINT) AS s FROM r"
    "), den AS ("
    # n-scaled centering keeps everything integer: n*x - S = n*(x - mean)
    "  SELECT CAST(sum((t.n * r.x - t.s) * (t.n * r.x - t.s)) AS HUGEINT) "
    "    AS d FROM r, tot t"
    "), num AS ("
    "  SELECT k.k, "
    "  CAST(sum((t.n * a.x - t.s) * (t.n * b.x - t.s)) AS HUGEINT) AS m, "
    "  CAST(count(*) AS BIGINT) AS n_pairs"
    "  FROM (SELECT unnest(range(1, 8)) AS k) k"
    "  CROSS JOIN r a JOIN r b ON b.rk = a.rk + k.k CROSS JOIN tot t"
    "  GROUP BY k.k"
    "), acf AS ("
    "  SELECT num.k AS lag, CAST(t.n AS BIGINT) AS n_days, num.n_pairs, "
    "  round(CAST(num.m AS DOUBLE) / nullif(CAST(den.d AS DOUBLE), 0), 6) "
    "    AS acf"
    "  FROM num, den, tot t"
    ") SELECT lag, n_days, n_pairs, acf, "
    # Ljung-Box Q over the ROUNDED acf values, accumulated in lag order so
    # the 7-term double sum is identical on both engines
    "round(n_days * (n_days + 2) * sum(acf * acf / (n_days - lag)) OVER "
    "  (ORDER BY lag ROWS UNBOUNDED PRECEDING), 6) AS lb_q "
    "FROM acf"
)


def stat_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily purchase revenue at lags 1–7 plus the
    running Ljung–Box Q — the "is this series even forecastable?" screen
    run before event_forecast_baseline/event_forecast_ewma are trusted:
    a weekly cycle shows as a lag-7 peak, a trend as slow uniform decay,
    and Q aggregates the first k lags into one portmanteau statistic.

    Exactness: the centered products use the n-scaling trick — Σ(n·xₜ−S)
    (n·xₜ₊ₖ−S) equals n²·Σ(xₜ−x̄)(xₜ₊ₖ−x̄) with every term an INTEGER
    (cents), so numerator and denominator accumulate exactly in
    decimal(38)/HUGEINT and the n² factors cancel in the ratio; each ACF
    is one double division rounded 6 dp, and Q sums the 7 ROUNDED r²ₖ
    terms in lag order (a running window over 7 rows — identical
    accumulation order on both engines by construction).

    Scale: the day-grain aggregate absorbs the event volume (calendar-
    bounded rows thereafter — ~3650 a decade); the lag spine is a 7-row
    broadcast and totals a 1-row broadcast; nothing row-grain shuffles
    twice."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).cast(_D38).alias("x"))
    )
    r = g.select(F.row_number().over(Window.orderBy("day")).alias("rk"), "x")
    tot = r.agg(
        F.count("*").cast(_D38).alias("n"), F.sum("x").cast(_D38).alias("s")
    )
    cen = lambda x: F.col("n") * x - F.col("s")  # noqa: E731
    den = (
        r.crossJoin(F.broadcast(tot))
        .agg(F.sum(cen(F.col("x")) * cen(F.col("x"))).cast(_D38).alias("d"))
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    a = r.select(F.col("rk").alias("rk_a"), F.col("x").alias("xa"))
    b = r.select(F.col("rk").alias("rk_b"), F.col("x").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("rk_b") == F.col("rk_a") + F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum(cen(F.col("xa")) * cen(F.col("xb"))).cast(_D38).alias("m"),
            F.count("*").alias("n_pairs"),
        )
    )
    acf = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.col("n_pairs"),
            F.round(
                F.col("m").cast("double")
                / F.nullif(F.col("d").cast("double"), F.lit(0.0)),
                6,
            ).alias("acf"),
        )
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    nd = F.col("n_days")
    return acf.withColumn(
        "lb_q",
        F.round(
            nd * (nd + 2) * F.sum(F.col("acf") * F.col("acf") / (nd - F.col("lag"))).over(w),
            6,
        ),
    )


# --- Hampel filter (rolling median / MAD outliers) -----------------------------

WIN_HAMPEL_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS x"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), nb AS ("
    "  SELECT c.day, c.x, n.x AS nx"
    "  FROM g c JOIN (SELECT unnest(range(-3, 4)) AS o) o ON TRUE"
    "  JOIN g n ON n.day = c.day + o.o"
    "), med AS ("
    "  SELECT day, any_value(x) AS x, CAST(count(*) AS BIGINT) AS n_window, "
    "  quantile_cont(nx, 0.5) AS med7 FROM nb GROUP BY day"
    "), mad AS ("
    "  SELECT nb.day, quantile_cont(abs(nb.nx - med.med7), 0.5) AS mad7"
    "  FROM nb JOIN med ON med.day = nb.day GROUP BY nb.day"
    ") SELECT med.day, med.x AS rev_cents, med.n_window, med.med7, mad.mad7, "
    "round(abs(med.x - med.med7) / nullif(1.4826 * mad.mad7, 0), 6) "
    "  AS hampel_score, "
    "abs(med.x - med.med7) > 3 * 1.4826 * mad.mad7 AS is_outlier "
    "FROM med JOIN mad ON mad.day = med.day"
)


def win_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily purchase-revenue series: a day is an
    outlier when it sits more than 3 scaled MADs from the 7-day centered
    rolling MEDIAN. Both center and spread are medians, so one spike
    cannot inflate its own threshold — the failure mode of rolling-z
    (dq_anomaly_iqr is the static-population sibling; this is the
    sliding-window form every telemetry pipeline runs).

    The true Hampel window is NOT a plain window function: the MAD terms
    |xⱼ − medᵢ| depend on the CENTER row's median, so the op materializes
    the ±3-day neighborhood via a 7-row offset-spine equi-join (day+o —
    a hash join, never a range/cartesian join), takes the exact windowed
    median, joins it back, and medians the absolute deviations.

    Exactness: cents are integers; a median of integers is exact at .0/.5
    (both engines interpolate (n−1)p linearly — probed equal), deviations
    are exact halves, the MAD exact quarters; score and the outlier
    inequality are IDENTICAL IEEE expression trees on both engines.

    Scale: the event volume collapses to day grain first (calendar-
    bounded); the 7× neighborhood explode and double median run on that
    bounded series, so cost is O(days), not O(events). Boundary days keep
    their truncated 4–6-row windows (n_window reports it)."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("x"))
    )
    offs = spark.range(-3, 4).select(F.col("id").alias("o"))
    c = g.select(F.col("day").alias("cday"), F.col("x").alias("cx"))
    nb = (
        c.crossJoin(F.broadcast(offs))
        .withColumn("nday", F.col("cday") + F.col("o"))
        .join(
            g.select(F.col("day").alias("nday"), F.col("x").alias("nx")),
            "nday",
        )
    )
    med = nb.groupBy("cday").agg(
        F.any_value(F.col("cx")).alias("rev_cents"),
        F.count("*").alias("n_window"),
        F.expr("percentile(nx, 0.5)").alias("med7"),
    )
    mad = (
        nb.join(med.select("cday", "med7"), "cday")
        .groupBy("cday")
        .agg(F.expr("percentile(abs(nx - med7), 0.5)").alias("mad7"))
    )
    dev = F.abs(F.col("rev_cents") - F.col("med7"))
    return (
        med.join(mad, "cday")
        .select(
            F.col("cday").alias("day"),
            "rev_cents",
            "n_window",
            "med7",
            "mad7",
            F.round(
                dev / F.nullif(1.4826 * F.col("mad7"), F.lit(0.0)), 6
            ).alias("hampel_score"),
            (dev > 3 * 1.4826 * F.col("mad7")).alias("is_outlier"),
        )
    )


# --- referential-integrity census ----------------------------------------------

_FK_EDGES = [
    # (child table, fk column, parent table, pk column)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

DQ_REFERENTIAL_ORACLE = " UNION ALL ".join(
    f"SELECT '{child}' AS child_table, '{fk}' AS fk_col, "
    f"'{parent}' AS parent_table, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(count(*) FILTER (WHERE p.pk IS NULL) AS BIGINT) AS n_orphans, "
    "round(count(*) FILTER (WHERE p.pk IS NULL) "
    "  / (1.0 * nullif(count(*), 0)), 6) AS orphan_rate "
    f"FROM {child} c LEFT JOIN "
    f"(SELECT DISTINCT {pk} AS pk FROM {parent}) p ON p.pk = c.{fk} "
    f"WHERE c.{fk} IS NOT NULL"
    for child, fk, parent, pk in _FK_EDGES
)


def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census over every FK edge of the warehouse
    graph: for each child→parent edge, the non-null child rows, how many
    reference a missing parent (orphans), and the orphan rate — the
    ingest gate that catches a truncated dimension load or an
    out-of-order CDC apply before a single join silently drops rows
    (inner joins EAT orphans; this op makes them a number).

    Implementation: per edge, project the child to its FK column, LEFT
    join the DISTINCT parent keys, and count nulls in ONE pass — no
    second anti-join scan. All seven edges union into a single plan.

    Scale: each join moves only key columns (scan pruning leaves 8-byte
    keys); parent key sets for the dimension edges broadcast, the
    fact-fact edges (lineitem→orders) shuffle hash on the key. A healthy
    lake reports seven zero rows — the op's value is the day it doesn't."""
    frames = []
    for child, fk, parent, pk in _FK_EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(fk).alias("fk"))
            .where(F.col("fk").isNotNull())
        )
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("pk"))
            .distinct()
        )
        frames.append(
            c.join(p, c["fk"] == p["pk"], "left").agg(
                F.lit(child).alias("child_table"),
                F.lit(fk).alias("fk_col"),
                F.lit(parent).alias("parent_table"),
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
                F.round(
                    F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
                    / (1.0 * F.nullif(F.count("*"), F.lit(0))),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# --- GIF header metadata (codec-free multimodal, little-endian + bitfields) ----

_GIF_N = 40
_GIF_MAGIC_HEX = "474946"  # "GIF"


def _gif_fields(doc_id: int, n_chars: int):
    """Deterministic GIF geometry from the SOURCE table (oracle mirror)."""
    width = 32 + (n_chars * 3) % 600
    height = 24 + (doc_id * 53) % 440
    gct_field = doc_id % 8
    n_bytes = 14 + 3 * (1 << (gct_field + 1))
    return width, height, gct_field, n_bytes


MM_GIF_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(32 + (n_chars * 3) % 600 AS BIGINT) AS width, "
    "CAST(24 + (doc_id * 53) % 440 AS BIGINT) AS height, "
    "TRUE AS gct_flag, "
    "CAST(1 << ((doc_id % 8) + 1) AS BIGINT) AS gct_colors, "
    "CAST(14 + 3 * (1 << ((doc_id % 8) + 1)) AS BIGINT) AS n_bytes, "
    "'89a' AS version, TRUE AS valid_magic "
    f"FROM documents WHERE doc_id < {_GIF_N}"
)


def mm_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata from REAL GIF bytes ENTIRELY JVM-side — the fourth
    codec-free binary container beside mm_png_meta (big-endian),
    mm_wav_meta (little-endian chunked), and mm_npy_meta (text header),
    adding the remaining wrinkle real containers throw at a scanner:
    PACKED BITFIELDS. The logical-screen descriptor's packed byte holds
    the global-color-table flag in bit 7 and the GCT size exponent in
    bits 0–2; both are extracted with integer bit arithmetic on the
    BinaryType column — substring/hex/conv plus `&` and shiftleft, no
    Python UDF and no image codec (header triage at 100 TB must never
    decode pixels).

    40 deterministic GIFs are staged from the documents table (width from
    n_chars, height and GCT size from doc_id — the ORACLE derives every
    field from the SOURCE table, so staging/scan corruption fails the
    hash). Structural honesty: each file carries its full 3·2^(k+1)-byte
    global color table and the 0x3B trailer, so n_bytes varies per file
    and ties the bitfield decode to physical length.

    Scale: binaryFile scans parallelize per file; only ≤4-byte slices of
    each blob feed the projection, and nothing but scalars shuffles."""
    import hashlib
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _GIF_N)
        .select("doc_id", "n_chars")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_gif_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 40 bounded fixture rows — staging only
        width, height, gct_field, n_bytes = _gif_fields(r.doc_id, r.n_chars)
        packed = 0x80 | (7 << 4) | gct_field  # GCT on, color res 8, size k
        gif = (
            b"GIF89a"
            + struct.pack("<HH", width, height)
            + bytes([packed, 0, 0])
            + b"\x00" * (3 * (1 << (gct_field + 1)))
            + b"\x3b"
        )
        assert len(gif) == n_bytes
        with open(f"{stage}/{r.doc_id}.gif", "wb") as f:
            f.write(gif)
    if not os.listdir(stage):
        # empty corpus staged zero blobs: typed empty frame instead of a
        # PATH_NOT_FOUND on the glob (mm_png_meta convention)
        return spark.createDataFrame(
            [],
            "doc_id long, width long, height long, gct_flag boolean, "
            "gct_colors long, n_bytes long, version string, "
            "valid_magic boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.gif")

    def u8(pos: int):  # unsigned byte at 1-based offset
        return F.conv(F.hex(F.substring("content", pos, 1)), 16, 10).cast("long")

    def le16(pos: int):  # little-endian uint16 at 1-based offset
        return u8(pos) + 256 * u8(pos + 1)

    packed = u8(11)
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.gif$", 1)
        .cast("long")
        .alias("doc_id"),
        le16(7).alias("width"),
        le16(9).alias("height"),
        (packed >= 128).alias("gct_flag"),
        F.expr(
            "shiftleft(1L, CAST((conv(hex(substring(content, 11, 1)), 16, 10)"
            " & 7) + 1 AS INT))"
        ).alias("gct_colors"),
        F.col("length").alias("n_bytes"),
        F.substring("content", 4, 3).cast("string").alias("version"),
        (F.hex(F.substring("content", 1, 3)) == _GIF_MAGIC_HEX).alias(
            "valid_magic"
        ),
    )


# --- Gumbel block-maxima fit + return levels ------------------------------------

_GUMBEL_HORIZONS = (7, 14, 30, 90)
_US_PER_HOUR = 3_600_000_000

STAT_GUMBEL_ORACLE = (
    "WITH h AS ("
    f"  SELECT {floor_div_sql('epoch_ns(ts) // 1000', _US_PER_HOUR)} AS hr, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS hx"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), blocks AS ("
    f"  SELECT {floor_div_sql('hr', 24)} AS day, max(hx) AS bmax FROM h "
    "  GROUP BY 1"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  CAST(sum(bmax) AS HUGEINT) AS s1, "
    "  CAST(sum(CAST(bmax AS HUGEINT) * bmax) AS HUGEINT) AS s2 FROM blocks"
    "), fit AS ("
    "  SELECT CAST(n AS BIGINT) AS n_blocks, "
    "  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_d, "
    # sample variance from exact sums: (n*s2 - s1^2) / (n*(n-1)), in cents²
    "  sqrt(6.0 * (CAST(n * s2 - s1 * s1 AS DOUBLE) "
    "      / CAST(n * (n - 1) AS DOUBLE))) / pi() / 100.0 AS beta_d"
    "  FROM s WHERE n >= 2"
    ") SELECT CAST(t.horizon_days AS BIGINT) AS horizon_days, f.n_blocks, "
    "round(f.mean_d, 6) AS block_mean, "
    "round(f.beta_d, 6) AS gumbel_beta, "
    f"round(f.mean_d - {_EULER_GAMMA} * f.beta_d, 6) AS gumbel_mu, "
    f"round(f.mean_d - {_EULER_GAMMA} * f.beta_d "
    " - f.beta_d * ln(-ln(1.0 - 1.0 / t.horizon_days)), 6) AS return_level "
    "FROM fit f, (SELECT unnest(["
    + ", ".join(str(t) for t in _GUMBEL_HORIZONS)
    + "]) AS horizon_days) t"
)


def stat_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning: take the DAILY BLOCK MAXIMA of
    hourly purchase revenue, fit a Gumbel distribution by method of
    moments (β̂ = s·√6/π, μ̂ = x̄ − γβ̂ — the standard EVT-lite fit), and
    report return levels x_T = μ̂ − β̂·ln(−ln(1−1/T)) for 7/14/30/90-day
    horizons: "the hourly revenue spike we should expect once per T
    days" — the statistic behind provisioning and alert thresholds,
    where percentiles of the RAW series systematically under-read tails.

    Exactness: block maxima are integer cents (max is order-free); the
    two sufficient statistics Σb and Σb² accumulate in decimal(38)/
    HUGEINT, so mean and sample variance are exact rationals; β̂, μ̂ and
    each return level are single double expressions (π via the engine's
    own pi(), γ as a shared 17-digit literal) rounded 6 dp — bit-identical
    cross-engine. Fewer than 2 blocks ⇒ zero rows (variance undefined).

    Scale: two map-side-combining aggregates (hour grain, then day-max)
    absorb the event volume; the fit runs on ONE row of sufficient
    statistics and the horizons explode from a literal array — no join,
    no shuffle after the day grain."""
    import math

    us = ts_us("ts")
    h = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(
            ((us - F.pmod(us, F.lit(_US_PER_HOUR))) / F.lit(_US_PER_HOUR))
            .cast("long")
            .alias("hr")
        )
        .agg(F.sum(money_cents(F.col("value"))).alias("hx"))
    )
    blocks = (
        h.groupBy(
            ((F.col("hr") - F.pmod(F.col("hr"), F.lit(24))) / 24)
            .cast("long")
            .alias("day")
        )
        .agg(F.max("hx").alias("bmax"))
    )
    s = blocks.agg(
        F.count("*").cast(_D38).alias("n"),
        F.sum("bmax").cast(_D38).alias("s1"),
        F.sum(F.col("bmax").cast(_D38) * F.col("bmax")).cast(_D38).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean_d = s1.cast("double") / n.cast("double") / 100.0
    beta_d = (
        F.sqrt(
            6.0
            * ((n * s2 - s1 * s1).cast("double") / (n * (n - 1)).cast("double"))
        )
        / F.lit(math.pi)
        / 100.0
    )
    gamma = F.lit(float(_EULER_GAMMA))
    fit = s.where(n >= 2).select(
        n.cast("long").alias("n_blocks"),
        mean_d.alias("mean_d"),
        beta_d.alias("beta_d"),
    )
    t = F.explode(
        F.array(*[F.lit(x) for x in _GUMBEL_HORIZONS])
    ).alias("horizon_days")
    out = fit.select(t, "n_blocks", "mean_d", "beta_d")
    mu = F.col("mean_d") - gamma * F.col("beta_d")
    return out.select(
        F.col("horizon_days").cast("long").alias("horizon_days"),
        "n_blocks",
        F.round(F.col("mean_d"), 6).alias("block_mean"),
        F.round(F.col("beta_d"), 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(
            mu
            - F.col("beta_d")
            * F.log(-F.log(1.0 - 1.0 / F.col("horizon_days"))),
            6,
        ).alias("return_level"),
    )


DEV_CASES = [
    ("stat_jackknife", stat_jackknife, STAT_JACKKNIFE_ORACLE),
    ("stat_autocorr", stat_autocorr, STAT_AUTOCORR_ORACLE),
    ("win_hampel", win_hampel, WIN_HAMPEL_ORACLE),
    ("dq_referential", dq_referential, DQ_REFERENTIAL_ORACLE),
    ("mm_gif_meta", mm_gif_meta, MM_GIF_META_ORACLE),
    ("stat_gumbel", stat_gumbel, STAT_GUMBEL_ORACLE),
]
