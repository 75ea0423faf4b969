"""Survival-comparison / dependent-bootstrap / checksum-forensics / reliability
wave. Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r53.py holds the independent property checks.

Contents:

- ``stat_logrank`` — the log-rank (Mantel–Cox) test comparing the two
  assignment arms' survival (arm = user_id mod 2) over the SAME
  hour-grain lifetime/censoring derivation as the registered
  ``event_survival`` KM curve: at every death time, O−E accumulates
  arm A's observed minus expected deaths under the shared-hazard null,
  with the hypergeometric variance term. Computed in the CUMULATIVE
  risk-set form — one groupBy(lifetime, arm) then windows ordered by
  lifetime DESC — never a (times × users) product, so the plan is
  bounded by DISTINCT lifetimes at any user count. The "did the B arm
  churn differently?" test the KM curve alone cannot answer.
- ``stat_block_bootstrap`` — moving-block bootstrap SE of mean daily
  revenue (Künsch 1989): 200 deterministic resamples assemble ⌈n/L⌉
  blocks of L = 5 consecutive days each (block starts from the shared
  md5 hash — cross-engine replayable where rand() is not), preserving
  within-block autocorrelation the iid bootstrap destroys. Every
  resample SUM is an exact integer, so the SE is one sqrt over exact
  power sums; the iid SE is emitted beside it — the ratio IS the
  autocorrelation correction factor a time-series CI needs.
- ``fn_luhn_check`` — Luhn mod-10 checksum forensics: 16-digit
  PAN-shaped numbers synthesize deterministically from doc_id (the
  fixture holds no real PANs — text_pii_scrub's synthetic-PII
  convention), every doc_id % 5 == 0 number gets a corrupted check
  digit, and the validator recomputes the double-every-second-digit
  sum by pure integer substring arithmetic. Census: valid counts by
  corruption class — the detection identity (all clean valid, all
  corrupted caught; single-digit errors are exactly what Luhn
  guarantees to catch) is asserted in the tests. The validation step
  behind card-number PII scrubbing at scale.
- ``stat_icc`` — intraclass correlation ICC(1) from one-way
  random-effects ANOVA over per-user purchase values: MSB/MSW from
  exact cents power sums, the unbalanced-design group size
  n₀ = (N − Σn²/N)/(k−1), ICC = (MSB−MSW)/(MSB+(n₀−1)·MSW). THE
  reliability/clustering-strength number: near 0 ⇒ users are
  interchangeable (cluster-randomize freely), near 1 ⇒ user explains
  everything (user-level experiments only). Complements stat_anova
  (which tests group differences; ICC quantifies them as a variance
  share).

Exactness doctrine: risk sets, resample sums, Luhn digit sums and
ANOVA sufficient statistics are exact integers end-to-end; E/V terms,
SEs and ICC spend divisions/sqrt on identically-derived values and
round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day, ts_us
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- log-rank two-arm survival comparison -----------------------------------------------

_US_PER_HOUR = 3_600_000_000
_CENSOR_US = 24 * _US_PER_HOUR  # the event_survival censoring convention
_TS_US = "(epoch_ns(ts) // 1000)"
_LOGRANK_CHI2_CUTOFF = 3.841  # chi², df = 1, p = 0.05 — literal

STAT_LOGRANK_ORACLE = (
    "WITH span AS ("
    "  SELECT user_id, user_id % 2 AS arm, "
    f"  (max({_TS_US}) - min({_TS_US})) // {_US_PER_HOUR} AS lt, "
    f"  max({_TS_US}) >= (SELECT max({_TS_US}) FROM events) - {_CENSOR_US}"
    "    AS censored"
    "  FROM events GROUP BY user_id"
    "), lt_grid AS ("
    "  SELECT lt, "
    "  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS la, "
    "  CAST(count(*) AS BIGINT) AS lv, "
    "  CAST(sum(CASE WHEN arm = 0 AND NOT censored THEN 1 ELSE 0 END)"
    "    AS BIGINT) AS da, "
    "  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS dt"
    "  FROM span GROUP BY lt"
    "), risk AS ("
    "  SELECT lt, da, dt, "
    "  sum(la) OVER (ORDER BY lt DESC) AS na, "
    "  sum(lv) OVER (ORDER BY lt DESC) AS nt"
    "  FROM lt_grid"
    "), agg AS ("
    "  SELECT CAST(sum(da) AS BIGINT) AS oa, "
    "  sum(dt * CAST(na AS DOUBLE) / nt) AS ea, "
    "  sum(CASE WHEN nt > 1 THEN dt * (CAST(na AS DOUBLE) / nt)"
    "    * (1 - CAST(na AS DOUBLE) / nt) * (nt - dt) / (nt - 1.0)"
    "    ELSE 0 END) AS v"
    "  FROM risk WHERE dt > 0"
    ") SELECT "
    "(SELECT CAST(count(*) AS BIGINT) FROM span WHERE arm = 0) AS n_a, "
    "(SELECT CAST(count(*) AS BIGINT) FROM span WHERE arm = 1) AS n_b, "
    "oa AS observed_a, round(ea, 6) AS expected_a, "
    "round((oa - ea) * (oa - ea) / v, 6) AS chi2, "
    f"round((oa - ea) * (oa - ea) / v, 6) > {_LOGRANK_CHI2_CUTOFF}"
    "  AS significant "
    "FROM agg"
)


def stat_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One per-user aggregate → one
    (lifetime, arm) grid → a DESC-ordered window over DISTINCT
    lifetimes (hours-bounded, never user-bounded) → a 1-row reduce.
    The E/V term sums run over death times in identical content on
    both engines; 1e-16 order noise sits far below the 6-dp grain
    (the event_survival precedent)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", ts_us("ts").alias("us")
    )
    mx = ev.agg(F.max("us").alias("mx"))
    span = (
        ev.groupBy("user_id")
        .agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.floor((F.col("hi") - F.col("lo")) / _US_PER_HOUR)
            .cast("long")
            .alias("lt"),
            (F.col("hi") >= F.col("mx") - _CENSOR_US).alias("censored"),
        )
    )
    with persisting() as keep:
        keep(span)
        grid = span.groupBy("lt").agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("la"),
            F.count(F.lit(1)).cast("long").alias("lv"),
            F.sum(
                F.when((F.col("arm") == 0) & ~F.col("censored"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("da"),
            F.sum(F.when(~F.col("censored"), 1).otherwise(0))
            .cast("long")
            .alias("dt"),
        )
        w = Window.orderBy(F.desc("lt")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        risk = grid.select(
            "da",
            "dt",
            F.sum("la").over(w).alias("na"),
            F.sum("lv").over(w).alias("nt"),
        ).where(F.col("dt") > 0)
        na_frac = F.col("na").cast("double") / F.col("nt")
        agg = risk.agg(
            F.sum("da").cast("long").alias("oa"),
            F.sum(F.col("dt") * na_frac).alias("ea"),
            F.sum(
                F.when(
                    F.col("nt") > 1,
                    F.col("dt")
                    * na_frac
                    * (1 - na_frac)
                    * (F.col("nt") - F.col("dt"))
                    / (F.col("nt") - 1.0),
                ).otherwise(F.lit(0.0))
            ).alias("v"),
        )
        arms = span.groupBy().agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
        chi2 = F.round(
            (F.col("oa") - F.col("ea")) * (F.col("oa") - F.col("ea"))
            / F.col("v"),
            6,
        )
        out = arms.crossJoin(F.broadcast(agg)).select(
            "n_a",
            "n_b",
            F.col("oa").alias("observed_a"),
            F.round("ea", 6).alias("expected_a"),
            chi2.alias("chi2"),
            (chi2 > _LOGRANK_CHI2_CUTOFF).alias("significant"),
        )
        return pin(out)


# --- moving-block bootstrap SE -----------------------------------------------------------

_BB_B = 200  # resamples
_BB_L = 5  # block length (days)
_BB_MAX_BLOCKS = 30  # static spine bound; ⌈n/L⌉ ≤ 30 up to a 150-day fixture

_ORACLE_BB_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

STAT_BLOCK_BOOTSTRAP_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS (SELECT row_number() OVER (ORDER BY day) - 1 AS idx, y FROM g), "
    "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r), "
    "grid AS ("
    f"  SELECT b, i, CAST({_ORACLE_BB_H60} AS BIGINT)"
    f"    % ((SELECT n FROM nn) - {_BB_L} + 1) AS s"
    "  FROM (SELECT b, i, 'bb:' || CAST(b AS VARCHAR) || ':'"
    "    || CAST(i AS VARCHAR) AS w"
    f"  FROM range({_BB_B}) t(b), range({_BB_MAX_BLOCKS}) u(i)"
    f"  WHERE i < ((SELECT n FROM nn) + {_BB_L} - 1) // {_BB_L})"
    "), picks AS ("
    "  SELECT g.b, r.y"
    f"  FROM grid g, range({_BB_L}) o(o) JOIN r ON r.idx = g.s + o.o"
    f"  WHERE g.i * {_BB_L} + o.o < (SELECT n FROM nn)"
    "), rs AS (SELECT b, CAST(sum(y) AS HUGEINT) AS m FROM picks GROUP BY b), "
    "agg AS (SELECT CAST(count(*) AS HUGEINT) AS B, sum(m) AS sm, "
    "  sum(m * m) AS sm2 FROM rs), "
    "orig AS (SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(y AS HUGEINT) * y) AS syy"
    "  FROM r) "
    "SELECT CAST((SELECT n FROM orig) AS BIGINT) AS n_days, "
    f"{_BB_L} AS block_len, "
    "CAST((SELECT B FROM agg) AS BIGINT) AS n_resamples, "
    "round(CAST((SELECT sy FROM orig) AS DOUBLE) / (SELECT n FROM orig)"
    " / 100, 6) AS mean_usd, "
    "round(sqrt(CAST((SELECT B FROM agg) * (SELECT sm2 FROM agg)"
    " - (SELECT sm FROM agg) * (SELECT sm FROM agg) AS DOUBLE)"
    " / CAST((SELECT B FROM agg) * ((SELECT B FROM agg) - 1) AS DOUBLE))"
    " / (SELECT n FROM orig) / 100, 6) AS block_se_usd, "
    "round(sqrt((CAST((SELECT n FROM orig) * (SELECT syy FROM orig)"
    " - (SELECT sy FROM orig) * (SELECT sy FROM orig) AS DOUBLE)"
    " / CAST((SELECT n FROM orig) * ((SELECT n FROM orig) - 1) AS DOUBLE))"
    " / CAST((SELECT n FROM orig) AS DOUBLE)) / 100, 6) AS iid_se_usd"
)


def stat_block_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The day-grain aggregate absorbs the event
    volume; the (B × blocks) spine is a constant-size generated frame
    joined to the ≤|days| series by block offset — one bounded
    equi-join, one groupBy(b), one 1-row reduce. No loop, no driver
    randomness, no data-sized shuffle beyond the first aggregate."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("idx"), "y"
    )
    nn = r.agg(F.count(F.lit(1)).cast("long").alias("n"))
    spine = (
        spark.range(_BB_B)
        .select(F.col("id").alias("b"))
        .crossJoin(
            F.broadcast(
                spark.range(_BB_MAX_BLOCKS).select(F.col("id").alias("i"))
            )
        )
        .crossJoin(F.broadcast(nn))
        .where(F.col("i") < F.expr(f"(n + {_BB_L} - 1) div {_BB_L}"))
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bb:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    grid = spine.select(
        "b", "i", "n", (h % (F.col("n") - _BB_L + 1)).alias("s")
    )
    offs = spark.range(_BB_L).select(F.col("id").alias("o"))
    picks = (
        grid.crossJoin(F.broadcast(offs))
        .where(F.col("i") * _BB_L + F.col("o") < F.col("n"))
        .select("b", (F.col("s") + F.col("o")).alias("idx"))
        .join(r, "idx")
    )
    rs = picks.groupBy("b").agg(F.sum("y").cast(_D38).alias("m"))
    agg = rs.agg(
        F.count(F.lit(1)).cast(_D38).alias("B"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("sm2"),
    )
    orig = r.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum(F.col("y").cast(_D38) * F.col("y")).alias("syy"),
    )
    row = orig.crossJoin(F.broadcast(agg))
    block_se = (
        F.sqrt(
            (
                F.col("B") * F.col("sm2") - F.col("sm") * F.col("sm")
            ).cast("double")
            / (F.col("B") * (F.col("B") - 1)).cast("double")
        )
        / F.col("n").cast("double")
        / 100
    )
    iid_se = (
        F.sqrt(
            (
                (
                    F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                ).cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
            )
            / F.col("n").cast("double")
        )
        / 100
    )
    return row.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(_BB_L).cast("int").alias("block_len"),
        F.col("B").cast("long").alias("n_resamples"),
        F.round(
            F.col("sy").cast("double") / F.col("n").cast("double") / 100, 6
        ).alias("mean_usd"),
        F.round(block_se, 6).alias("block_se_usd"),
        F.round(iid_se, 6).alias("iid_se_usd"),
    )


# --- Luhn checksum forensics ---------------------------------------------------------------

FN_LUHN_CHECK_ORACLE = (
    "WITH pan AS ("
    "  SELECT doc_id, '4' || lpad(CAST((doc_id * 7919 + 123456789)"
    "    % 100000000000000 AS VARCHAR), 14, '0') AS body, "
    "  doc_id % 5 = 0 AS corrupted FROM documents"
    "), chk AS ("
    "  SELECT doc_id, body, corrupted, "
    "  (SELECT sum(CASE WHEN i % 2 = 0"
    "    THEN CASE WHEN 2 * CAST(substr(body, 15 - CAST(i AS INT), 1)"
    "      AS BIGINT) > 9"
    "    THEN 2 * CAST(substr(body, 15 - CAST(i AS INT), 1) AS BIGINT) - 9"
    "    ELSE 2 * CAST(substr(body, 15 - CAST(i AS INT), 1) AS BIGINT) END"
    "    ELSE CAST(substr(body, 15 - CAST(i AS INT), 1) AS BIGINT) END)"
    "   FROM range(15) t(i)) AS s FROM pan"
    "), full_pan AS ("
    "  SELECT doc_id, corrupted, body || CAST(((10 - s % 10) % 10"
    "    + CASE WHEN corrupted THEN 1 ELSE 0 END) % 10 AS VARCHAR) AS pan"
    "  FROM chk"
    "), valid AS ("
    "  SELECT corrupted, "
    "  (SELECT sum(CASE WHEN i % 2 = 1"
    "    THEN CASE WHEN 2 * CAST(substr(pan, 16 - CAST(i AS INT), 1)"
    "      AS BIGINT) > 9"
    "    THEN 2 * CAST(substr(pan, 16 - CAST(i AS INT), 1) AS BIGINT) - 9"
    "    ELSE 2 * CAST(substr(pan, 16 - CAST(i AS INT), 1) AS BIGINT) END"
    "    ELSE CAST(substr(pan, 16 - CAST(i AS INT), 1) AS BIGINT) END)"
    "   FROM range(16) t(i)) % 10 = 0 AS ok FROM full_pan"
    ") SELECT corrupted, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid "
    "FROM valid GROUP BY corrupted"
)


def fn_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Synthesis, check-digit computation,
    corruption and validation are substring/integer expressions in one
    codegen stage (the digit spine is a 16-element generated array
    folded with ``aggregate`` — no explode, no shuffle before the
    2-group census). Single-digit corruption is GUARANTEED caught by
    Luhn, so the census is a detection identity, not a probability."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("corrupted")
    )
    body = F.concat(
        F.lit("4"),
        F.lpad(
            ((F.col("doc_id") * 7919 + 123456789) % 100000000000000).cast(
                "string"
            ),
            14,
            "0",
        ),
    )

    def luhn_sum(col_name: str, length: int, double_parity: int):
        # sum over i in [0, length): digits taken right-to-left, doubling
        # positions with i % 2 == double_parity (9-subtracted when > 9)
        return F.expr(
            f"aggregate(sequence(0, {length - 1}), 0L, (acc, i) -> acc + "
            f"CASE WHEN i % 2 = {double_parity} THEN "
            f"CASE WHEN 2 * CAST(substring({col_name}, {length + 1} - i - 1, 1) AS BIGINT) > 9 "
            f"THEN 2 * CAST(substring({col_name}, {length + 1} - i - 1, 1) AS BIGINT) - 9 "
            f"ELSE 2 * CAST(substring({col_name}, {length + 1} - i - 1, 1) AS BIGINT) END "
            f"ELSE CAST(substring({col_name}, {length + 1} - i - 1, 1) AS BIGINT) END)"
        )

    chk = d.select("doc_id", "corrupted", body.alias("body")).withColumn(
        "s", luhn_sum("body", 15, 0)
    )
    full_pan = chk.select(
        "corrupted",
        F.concat(
            F.col("body"),
            (
                ((10 - F.col("s") % 10) % 10
                 + F.when(F.col("corrupted"), 1).otherwise(0)) % 10
            ).cast("string"),
        ).alias("pan"),
    )
    valid = full_pan.withColumn("ls", luhn_sum("pan", 16, 1)).select(
        "corrupted", (F.col("ls") % 10 == 0).alias("ok")
    )
    return valid.groupBy("corrupted").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias(
            "n_valid"
        ),
    )


# --- intraclass correlation ICC(1) ----------------------------------------------------------

STAT_ICC_ORACLE = (
    "WITH d AS ("
    f"  SELECT user_id AS grp, CAST({money_cents_sql('value')} AS HUGEINT)"
    "    AS x FROM events WHERE event_type = 'purchase'"
    "), g AS ("
    "  SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx FROM d"
    "  GROUP BY grp HAVING count(*) >= 2"
    "), dd AS (SELECT d.grp, d.x FROM d JOIN g ON g.grp = d.grp), "
    "tot AS (SELECT CAST(count(*) AS HUGEINT) AS N, sum(x) AS SX, "
    "  sum(x * x) AS SXX FROM dd), "
    "kk AS (SELECT CAST(count(*) AS HUGEINT) AS k, sum(n * n) AS sn2 FROM g), "
    "ssb AS (SELECT sum(CAST(sx * sx AS DOUBLE) / n)"
    "  - CAST((SELECT SX FROM tot) AS DOUBLE) * (SELECT SX FROM tot)"
    "    / (SELECT N FROM tot) AS v FROM g), "
    "sst AS (SELECT CAST((SELECT SXX FROM tot) AS DOUBLE)"
    "  - CAST((SELECT SX FROM tot) AS DOUBLE) * (SELECT SX FROM tot)"
    "    / (SELECT N FROM tot) AS v) "
    "SELECT CAST((SELECT k FROM kk) AS INT) AS k_groups, "
    "CAST((SELECT N FROM tot) AS BIGINT) AS n_obs, "
    "round((SELECT v FROM ssb) / ((SELECT k FROM kk) - 1) / 10000, 6)"
    "  AS msb_usd2, "
    "round(((SELECT v FROM sst) - (SELECT v FROM ssb))"
    " / ((SELECT N FROM tot) - (SELECT k FROM kk)) / 10000, 6) AS msw_usd2, "
    "round((CAST((SELECT N FROM tot) AS DOUBLE)"
    " - CAST((SELECT sn2 FROM kk) AS DOUBLE) / (SELECT N FROM tot))"
    " / ((SELECT k FROM kk) - 1), 6) AS n0, "
    "round(((SELECT v FROM ssb) / ((SELECT k FROM kk) - 1)"
    "  - ((SELECT v FROM sst) - (SELECT v FROM ssb))"
    "    / ((SELECT N FROM tot) - (SELECT k FROM kk)))"
    " / ((SELECT v FROM ssb) / ((SELECT k FROM kk) - 1)"
    "  + (((CAST((SELECT N FROM tot) AS DOUBLE)"
    "    - CAST((SELECT sn2 FROM kk) AS DOUBLE) / (SELECT N FROM tot))"
    "    / ((SELECT k FROM kk) - 1)) - 1)"
    "  * ((SELECT v FROM sst) - (SELECT v FROM ssb))"
    "    / ((SELECT N FROM tot) - (SELECT k FROM kk))), 6) AS icc"
)


def stat_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One per-group aggregate (groups with < 2
    observations are excluded — their within-variance is undefined),
    one 1-row total, |groups|-row arithmetic; ssb sums |groups| doubles
    of identical derivation on both engines (1e-16 order noise under
    the 6-dp grain)."""
    d = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("grp"),
            money_cents(F.col("value")).cast(_D38).alias("x"),
        )
    )
    g = (
        d.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("x").alias("sx"),
        )
        .where(F.col("n") >= 2)
    )
    dd = d.join(g.select("grp"), "grp")
    # capitalized aliases would collide with the per-group sx under
    # Spark's case-insensitive resolution — hence the t-prefix
    tot = dd.agg(
        F.count(F.lit(1)).cast(_D38).alias("tn"),
        F.sum("x").alias("tsx"),
        F.sum(F.col("x") * F.col("x")).alias("tsxx"),
    )
    kk = g.agg(
        F.count(F.lit(1)).cast(_D38).alias("k"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    ssb = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    (F.col("sx") * F.col("sx")).cast("double")
                    / F.col("n").cast("double")
                )
                - F.first(
                    F.col("tsx").cast("double")
                    * F.col("tsx").cast("double")
                    / F.col("tn").cast("double")
                )
            ).alias("v")
        )
    )
    row = (
        tot.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(ssb.select(F.col("v").alias("ssb"))))
    )
    sst = F.col("tsxx").cast("double") - F.col("tsx").cast(
        "double"
    ) * F.col("tsx").cast("double") / F.col("tn").cast("double")
    msb = F.col("ssb") / (F.col("k").cast("double") - 1)
    msw = (sst - F.col("ssb")) / (
        F.col("tn").cast("double") - F.col("k").cast("double")
    )
    n0 = (
        F.col("tn").cast("double")
        - F.col("sn2").cast("double") / F.col("tn").cast("double")
    ) / (F.col("k").cast("double") - 1)
    return row.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("tn").cast("long").alias("n_obs"),
        F.round(msb / 10000, 6).alias("msb_usd2"),
        F.round(msw / 10000, 6).alias("msw_usd2"),
        F.round(n0, 6).alias("n0"),
        F.round((msb - msw) / (msb + (n0 - 1) * msw), 6).alias("icc"),
    )


DEV_CASES = [
    ("stat_logrank", stat_logrank, STAT_LOGRANK_ORACLE),
    ("stat_block_bootstrap", stat_block_bootstrap, STAT_BLOCK_BOOTSTRAP_ORACLE),
    ("fn_luhn_check", fn_luhn_check, FN_LUHN_CHECK_ORACLE),
    ("stat_icc", stat_icc, STAT_ICC_ORACLE),
]
