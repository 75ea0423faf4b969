"""Inequality-decomposition / raw-image-decode / subtitle-parse / ordered-trend
wave. Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r49.py holds the independent property checks.

Contents:

- ``agg_theil_index`` — Theil's T inequality index of document length
  with its exact BETWEEN/WITHIN decomposition by source
  (T_total = T_between + T_within — the additive-decomposability
  property that makes Theil, not Gini, the index you use to answer
  "is corpus imbalance driven by sources or within them?"). Every
  log argument is a ratio of exact integers cast to double with the
  SAME expression tree on both engines; the decomposition identity is
  itself asserted (within = total − between before rounding). The
  portfolio-balance readout beside the registered ``agg_gini`` /
  ``stat_herfindahl`` concentration numbers.
- ``mm_ppm_decode`` — REAL image decode with a full value oracle: P6
  PPM is raw RGB (header + W·H·3 bytes, no codec), so 40 deterministic
  images stage with pixel k = (doc_id·31 + k·7) mod 256 and the
  mapInPandas numpy kernel decodes header + pixel block into per-channel
  integer sums and extrema that the ORACLE rederives from the generator
  formula. This closes the multimodal story honestly: mm_binary_surface
  stubs the CODEC boundary (no libs in the container), while the
  codec-FREE decode path — header parse, buffer reshape, channel
  reduction, the exact shape a JPEG kernel has after its codec call —
  is fully exercised and value-certified.
- ``mm_srt_parse`` — SubRip subtitle ingestion: one staged .srt
  (40 cues, timestamps from doc_id arithmetic) read with
  ``lineSep="\\n\\n"`` so each cue block is ONE row, then pure-JVM
  regex/substring parsing into (seq, start_ms, end_ms, duration_ms,
  n_words) — the sidecar-transcript path of a video pipeline, where
  cue timing joins frame samples. The oracle recomputes every field
  from the documents table.
- ``stat_page_trend`` — Page's L test for MONOTONE trend across ordered
  treatments in blocked data (Page 1963): blocks = full ISO-ish weeks
  (epoch-day // 7, keeping only weeks with all 7 day-slots), ordered
  treatments = day-of-week index (epoch-day mod 7; 0 = Thursday),
  measurement = daily event count. Integer doubled midranks make
  2L exact; E[L] = n·k(k+1)²/4 and Var(L) = n·k²(k+1)(k²−1)/144 are
  exact rationals, and z spends one sqrt + division. Friedman
  (staged_r47) asks "do the treatments differ AT ALL?"; Page asks
  "do they trend in the given order?" — strictly more powerful when
  the alternative is ordered.

Exactness doctrine: pixel/channel sums, cue timings, rank sums and 2L
are exact integers end-to-end; Theil terms / z / fill ratios spend
ln/sqrt/division on identically-derived doubles and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day

_D38 = "decimal(38,0)"

# --- Theil inequality index with between/within decomposition -------------------------

AGG_THEIL_INDEX_ORACLE = (
    "WITH d AS ("
    "  SELECT source, CAST(n_chars AS HUGEINT) AS x FROM documents"
    "  WHERE n_chars > 0"
    "), tot AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx"
    "  FROM d"
    "), g AS ("
    "  SELECT source, CAST(count(*) AS HUGEINT) AS ng, "
    "  CAST(sum(x) AS HUGEINT) AS sxg FROM d GROUP BY source"
    "), t_tot AS ("
    "  SELECT sum((CAST(x AS DOUBLE) / (SELECT sx FROM tot))"
    "   * ln((CAST(x AS DOUBLE) * (SELECT n FROM tot))"
    "       / (SELECT sx FROM tot))) AS t FROM d"
    "), t_between AS ("
    "  SELECT sum((CAST(sxg AS DOUBLE) / (SELECT sx FROM tot))"
    "   * ln((CAST(sxg AS DOUBLE) * (SELECT n FROM tot))"
    "       / (CAST((SELECT sx FROM tot) AS DOUBLE) * ng))) AS t FROM g"
    ") SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs, "
    "CAST((SELECT count(*) FROM g) AS INT) AS k_groups, "
    "round((SELECT t FROM t_tot), 6) AS theil_total, "
    "round((SELECT t FROM t_between), 6) AS theil_between, "
    "round((SELECT t FROM t_tot) - (SELECT t FROM t_between), 6)"
    "  AS theil_within"
)


def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One scan feeds a 1-row total and a
    |sources|-row group frame (both broadcast); the per-doc term sum is
    one map-side-combined aggregate. T_between's log argument is
    (sxg·n)/(sx·ng) — group mean share over population share — written
    with the identical multiply-then-divide tree on both engines."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    d = d.select("source", F.col("n_chars").cast(_D38).alias("x"))
    tot = d.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"), F.sum("x").alias("sx")
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast(_D38).alias("ng"), F.sum("x").alias("sxg")
    )
    dt = d.crossJoin(F.broadcast(tot))
    t_tot = dt.agg(
        F.sum(
            (F.col("x").cast("double") / F.col("sx").cast("double"))
            * F.log(
                (F.col("x").cast("double") * F.col("n").cast("double"))
                / F.col("sx").cast("double")
            )
        ).alias("t")
    )
    gt = g.crossJoin(F.broadcast(tot))
    t_between = gt.agg(
        F.sum(
            (F.col("sxg").cast("double") / F.col("sx").cast("double"))
            * F.log(
                (F.col("sxg").cast("double") * F.col("n").cast("double"))
                / (F.col("sx").cast("double") * F.col("ng").cast("double"))
            )
        ).alias("t"),
        F.count(F.lit(1)).cast("int").alias("k_groups"),
    )
    row = (
        tot.select(F.col("n").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(t_tot.select(F.col("t").alias("tt"))))
        .crossJoin(
            F.broadcast(t_between.select(F.col("t").alias("tb"), "k_groups"))
        )
    )
    return row.select(
        "n_docs",
        "k_groups",
        F.round(F.col("tt"), 6).alias("theil_total"),
        F.round(F.col("tb"), 6).alias("theil_between"),
        F.round(F.col("tt") - F.col("tb"), 6).alias("theil_within"),
    )


# --- P6 PPM raw-RGB decode -------------------------------------------------------------

_PPM_DOC_LO, _PPM_DOC_HI = 240, 280

MM_PPM_DECODE_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents"
    f"  WHERE doc_id >= {_PPM_DOC_LO} AND doc_id < {_PPM_DOC_HI}"
    "), px AS ("
    "  SELECT doc_id, w, h, CAST(k AS BIGINT) AS k, "
    "  CAST((doc_id * 31 + k * 7) % 256 AS BIGINT) AS v"
    "  FROM d, unnest(range(w * h * 3)) t(k)"
    ") SELECT doc_id, CAST(max(w) AS INT) AS width, "
    "CAST(max(h) AS INT) AS height, "
    "CAST(sum(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r, "
    "CAST(sum(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g, "
    "CAST(sum(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b, "
    "CAST(min(v) AS BIGINT) AS min_byte, CAST(max(v) AS BIGINT) AS max_byte "
    "FROM px GROUP BY doc_id"
)


def mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Staging writes canonical ``P6\\n{W} {H}\\n255\\n``
    headers + raw RGB; the kernel parses the header bytes, reshapes the
    pixel buffer (H, W, 3) and reduces per channel — per-blob O(pixels),
    Arrow-batched, nothing but the census leaves the executor. At
    100 TB swap the buffer source for a codec call and the plumbing —
    schema, batching, partitioning — is unchanged (that boundary is
    mm_binary_surface's documented stub).

    The fixture is PRE-MATERIALIZED once per sf_dir (r11 verdict item 6:
    registered mm keys must eat real files, not re-synthesize on the
    driver every run) — steady state is a manifest check + pure
    binaryFile scan; only the bounded doc_id list is collected."""
    from ..sources.binfix import ensure_blob_fixture, ppm_p6_payload

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= _PPM_DOC_LO) & (F.col("doc_id") < _PPM_DOC_HI))
        .select("doc_id")
    )
    ids = sorted(r.doc_id for r in d.collect())  # ≤40 rows — fixture key only
    if not ids:
        return spark.createDataFrame(
            [],
            "doc_id long, width int, height int, sum_r long, sum_g long, "
            "sum_b long, min_byte long, max_byte long",
        )
    stage = ensure_blob_fixture(
        "ppm",
        sf_dir,
        version=1,
        names=[f"{i}.ppm" for i in ids],
        payload_of=lambda name: ppm_p6_payload(int(name.split(".")[0])),
    )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.ppm").select(
        "path", "content"
    )

    def kernel(batches):
        import os as _os

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                blob = bytes(content)
                magic, dims, maxval, rest = blob.split(b"\n", 3)
                assert magic == b"P6" and maxval == b"255"
                w, h = (int(t) for t in dims.split())
                v = np.frombuffer(rest, dtype=np.uint8).astype(np.int64)
                assert len(v) == w * h * 3
                rgb = v.reshape(h, w, 3)
                out.append(
                    (
                        doc_id,
                        w,
                        h,
                        int(rgb[:, :, 0].sum()),
                        int(rgb[:, :, 1].sum()),
                        int(rgb[:, :, 2].sum()),
                        int(v.min()),
                        int(v.max()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                    "min_byte",
                    "max_byte",
                ],
            )

    return blobs.mapInPandas(
        kernel,
        "doc_id long, width int, height int, sum_r long, sum_g long, "
        "sum_b long, min_byte long, max_byte long",
    )


# --- SubRip (.srt) cue parsing ---------------------------------------------------------

_SRT_DOC_LO, _SRT_DOC_HI = 200, 240

MM_SRT_PARSE_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, n_chars, row_number() OVER (ORDER BY doc_id) AS seq, "
    "  CAST(doc_id * 1000 AS BIGINT) AS start_ms, "
    "  CAST(doc_id * 1000 + 500 + n_chars % 1500 AS BIGINT) AS end_ms, "
    "  len(string_split(text, ' ')) AS nw"
    f"  FROM documents WHERE doc_id >= {_SRT_DOC_LO} AND doc_id < {_SRT_DOC_HI}"
    ") SELECT CAST(seq AS INT) AS seq, start_ms, end_ms, "
    "end_ms - start_ms AS duration_ms, "
    "CAST(least(nw, 3) + 2 AS INT) AS n_words FROM d"
)


def mm_srt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Cue text is ``doc {id}: <first ≤3 words>``
    (n_words = marker 2 + min(3, doc words)); the reader splits the file
    on blank lines (``lineSep='\\n\\n'``) so one cue = one row WITHOUT any
    Python in the scan, and every field is substring/regexp arithmetic —
    hh:mm:ss,mmm reassembled as exact integer milliseconds. At 100 TB
    the same two-line recipe catalogs every sidecar transcript next to
    its video shard."""
    import hashlib
    import os
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= _SRT_DOC_LO) & (F.col("doc_id") < _SRT_DOC_HI))
        .select("doc_id", "n_chars", "text")
        .orderBy("doc_id")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_srt_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    rows = d.collect()  # 40 bounded fixture rows — staging only
    if not rows:
        return spark.createDataFrame(
            [],
            "seq int, start_ms long, end_ms long, duration_ms long, "
            "n_words int",
        )

    def fmt(ms: int) -> str:
        h, r = divmod(ms, 3_600_000)
        m, r2 = divmod(r, 60_000)
        s, mm = divmod(r2, 1000)
        return f"{h:02d}:{m:02d}:{s:02d},{mm:03d}"

    cues = []
    for seq, r in enumerate(rows, start=1):
        start = r.doc_id * 1000
        end = start + 500 + r.n_chars % 1500
        snippet = " ".join(r.text.split(" ")[:3])
        cues.append(f"{seq}\n{fmt(start)} --> {fmt(end)}\ndoc {r.doc_id}: {snippet}")
    with open(f"{stage}/track0.srt", "w") as f:
        f.write("\n\n".join(cues) + "\n")
    blocks = spark.read.option("lineSep", "\n\n").text(f"{stage}/*.srt")
    ts = r"(\d{2}):(\d{2}):(\d{2}),(\d{3})"
    line2 = F.regexp_extract("value", rf"{ts} --> {ts}", 0)

    def ms(base: int):
        # group offsets: start = groups 1-4, end = groups 5-8
        return (
            F.regexp_extract("value", rf"{ts} --> {ts}", base).cast("long")
            * 3_600_000
            + F.regexp_extract("value", rf"{ts} --> {ts}", base + 1).cast(
                "long"
            )
            * 60_000
            + F.regexp_extract("value", rf"{ts} --> {ts}", base + 2).cast(
                "long"
            )
            * 1000
            + F.regexp_extract("value", rf"{ts} --> {ts}", base + 3).cast(
                "long"
            )
        )
    parsed = blocks.where(F.length(F.trim("value")) > 0).select(
        F.regexp_extract("value", r"^(\d+)\n", 1).cast("int").alias("seq"),
        ms(1).alias("start_ms"),
        ms(5).alias("end_ms"),
        F.size(
            F.split(F.regexp_extract("value", r"\n([^\n]+)$", 1), " ")
        ).alias("n_words"),
    )
    return parsed.where(line2 != "").select(
        "seq",
        "start_ms",
        "end_ms",
        (F.col("end_ms") - F.col("start_ms")).alias("duration_ms"),
        F.col("n_words").cast("int").alias("n_words"),
    )


# --- Page's L ordered-trend test -------------------------------------------------------

_PAGE_K = 7  # day-of-week slots (epoch-day mod 7; 0 = Thursday)
_PAGE_Z_CUTOFF = 1.96

STAT_PAGE_TREND_ORACLE = (
    "WITH g AS ("
    "  SELECT CAST(epoch_ns(ts) // 1000 // 86400000000 // 7 AS BIGINT) AS wk, "
    "  CAST((epoch_ns(ts) // 1000 // 86400000000) % 7 AS BIGINT) AS dow, "
    "  CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1, 2"
    "), full_wk AS ("
    f"  SELECT wk FROM g GROUP BY wk HAVING count(*) = {_PAGE_K}"
    "), grid AS (SELECT g.wk, g.dow, g.v FROM g JOIN full_wk USING (wk)), "
    "rk AS ("
    "  SELECT wk, dow, CAST(2 * rank() OVER (PARTITION BY wk ORDER BY v)"
    "   + count(*) OVER (PARTITION BY wk, v) - 1 AS HUGEINT) AS r2"
    "  FROM grid"
    "), lsum AS ("
    "  SELECT CAST(sum((dow + 1) * r2) AS HUGEINT) AS l2, "
    "  CAST(count(DISTINCT wk) AS HUGEINT) AS n FROM rk"
    ") SELECT CAST(n AS INT) AS n_blocks, "
    f"CAST({_PAGE_K} AS INT) AS k_treatments, "
    "round(CAST(l2 AS DOUBLE) / 2, 6) AS page_l, "
    f"round(CAST(n * {_PAGE_K} * {(_PAGE_K + 1) ** 2} AS DOUBLE) / 4, 6)"
    "  AS expected_l, "
    f"round((CAST(l2 AS DOUBLE) / 2 - CAST(n * {_PAGE_K} * {(_PAGE_K + 1) ** 2}"
    " AS DOUBLE) / 4) / sqrt(CAST(n AS DOUBLE)"
    f" * {_PAGE_K ** 2 * (_PAGE_K + 1) * (_PAGE_K ** 2 - 1)} / 144), 6) AS z, "
    f"abs(round((CAST(l2 AS DOUBLE) / 2 - CAST(n * {_PAGE_K} * {(_PAGE_K + 1) ** 2}"
    " AS DOUBLE) / 4) / sqrt(CAST(n AS DOUBLE)"
    f" * {_PAGE_K ** 2 * (_PAGE_K + 1) * (_PAGE_K ** 2 - 1)} / 144), 6))"
    f" > {_PAGE_Z_CUTOFF} AS trend_detected "
    "FROM lsum"
)


def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One (week, dow) count aggregate absorbs the
    event volume; full-week filtering is a |weeks|-row HAVING; ranks
    partition by week over ≤7 rows each; the statistic is a 1-row
    reduce. trend_detected compares the ROUNDED |z| on both engines."""
    ev = load_table(spark, sf_dir, "events").select(ts_day("ts").alias("day"))
    g = (
        ev.groupBy(
            (F.col("day") / 7).cast("long").alias("wk"),
            F.pmod(F.col("day"), F.lit(7)).cast("long").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    full_wk = (
        g.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("slots"))
        .where(F.col("slots") == _PAGE_K)
        .select("wk")
    )
    grid = g.join(full_wk, "wk")
    rk = grid.select(
        "wk",
        "dow",
        (
            2 * F.rank().over(Window.partitionBy("wk").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("wk", "v"))
            - 1
        )
        .cast(_D38)
        .alias("r2"),
    )
    lsum = rk.agg(
        F.sum((F.col("dow") + 1).cast(_D38) * F.col("r2")).alias("l2"),
        F.countDistinct("wk").cast(_D38).alias("n"),
    )
    e_l = (
        F.col("n").cast("double")
        * _PAGE_K
        * (_PAGE_K + 1) ** 2
        / 4
    )
    z = F.round(
        (F.col("l2").cast("double") / 2 - e_l)
        / F.sqrt(
            F.col("n").cast("double")
            * (_PAGE_K**2 * (_PAGE_K + 1) * (_PAGE_K**2 - 1))
            / 144
        ),
        6,
    )
    return lsum.select(
        F.col("n").cast("int").alias("n_blocks"),
        F.lit(_PAGE_K).cast("int").alias("k_treatments"),
        F.round(F.col("l2").cast("double") / 2, 6).alias("page_l"),
        F.round(e_l, 6).alias("expected_l"),
        z.alias("z"),
        (F.abs(z) > _PAGE_Z_CUTOFF).alias("trend_detected"),
    )


DEV_CASES = [
    ("agg_theil_index", agg_theil_index, AGG_THEIL_INDEX_ORACLE),
    ("mm_ppm_decode", mm_ppm_decode, MM_PPM_DECODE_ORACLE),
    ("mm_srt_parse", mm_srt_parse, MM_SRT_PARSE_ORACLE),
    ("stat_page_trend", stat_page_trend, STAT_PAGE_TREND_ORACLE),
]
