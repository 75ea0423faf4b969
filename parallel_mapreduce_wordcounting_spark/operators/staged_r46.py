"""Late-interaction-retrieval / audio-DSP / structural-break / HITS wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r46.py holds the independent property checks.

Contents:

- ``sim_maxsim`` — ColBERT-style late-interaction reranking
  (Khattab & Zaharia 2020): score(q, d) = Σ over distinct query
  bigrams of the MAX similarity against any candidate bigram. Each
  bigram embeds as a 16-bit ±1 sign vector derived from the shared
  md5 60-bit token hash (dedup_simhash convention), so every dot
  product collapses to ``16 − 2·bit_count(xor(hq, hd) & 0xFFFF)`` —
  an exact integer the JVM computes with two bit ops, no arrays, no
  Python. Top-5 candidates per query under (score DESC, doc_id).
  Bigrams (not unigrams) because the fixture's tiny word vocabulary
  makes many documents unigram-supersets of any query — bigram sets
  discriminate (every query ranks itself first; partial-match scores
  spread). ``maxsim = score16/16`` is exact in binary floating point.
- ``mm_wav_energy`` — the DSP step AFTER :func:`staged_r10.mm_wav_meta`'s
  header triage: parse real PCM16 sample payloads and census
  n_samples / peak / DC sum / RMS / zero-crossings per file. 40
  deterministic mono WAVs stage with samples from pure doc_id
  arithmetic (s_k = (doc_id·7919 + k·104729 + 12345) mod 2¹⁶ − 2¹⁵),
  so the ORACLE rederives every field from the generator formula and
  any staging, byte-order, or kernel drift fails the hash. The decode
  kernel is a REAL Arrow-batched ``mapInPandas`` numpy ``frombuffer``
  — the exact shape a production audio feature-extractor has — while
  header parsing stays JVM-side.
- ``stat_chow`` — the Chow (1960) structural-break F-test on the daily
  purchase-revenue series at the midpoint split: F = ((SSR_pooled −
  SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)), k = 2 params. Each segment
  SSR has the closed form (A·D − N²)/(n·D) with A = nΣy²−(Σy)²,
  D = nΣt²−(Σt)², N = nΣty−ΣtΣy — every sufficient statistic an
  exact integer in decimal(38)/HUGEINT (the staged_r44 trend-family
  doctrine), one double division per SSR, identical IEEE trees both
  engines, 6 dp. Completes the post-fit triptych: stat_durbin_watson
  (serial correlation), stat_het_spearman (heteroscedasticity),
  stat_chow (parameter stability).
- ``graph_hits`` — Kleinberg's HITS (1999) on the customer→part
  bipartite purchase graph (distinct orders⋈lineitem pairs): two
  unnormalized power-iteration sweeps a¹ = Aᵀ1, h¹ = Aa¹, a² = Aᵀh¹,
  h² = Aa² keep every score an EXACT integer (no per-iteration L2
  norm → no float drift; ranking is normalization-invariant), then
  top-10 hubs and authorities with norm_score = score/max rounded
  6 dp. The iterative-eigenvector sibling of graph_pagerank on a
  graph pagerank never sees.

Exactness doctrine: maxsim scores, WAV censuses bar RMS, Chow
sufficient statistics and HITS scores are exact integers end-to-end;
RMS/Chow-F/norm_score each spend one sqrt and/or division on exact
integers and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- ColBERT-style MaxSim late-interaction reranking --------------------------------

_MAXSIM_Q_DOCS = 8
_MAXSIM_TOPK = 5

# md5-derived 60-bit token hash (dedup.py convention — Spark parses
# conv(hex, 16, 10), DuckDB shift-sums the hex digits exactly).
_ORACLE_GRAM_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

SIM_MAXSIM_ORACLE = (
    "WITH words AS ("
    "  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents"
    "), grams AS ("
    "  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)),"
    "         i -> ws[i] || ' ' || ws[i+1]))) AS w"
    "  FROM words WHERE len(ws) >= 2"
    "), tok AS ("
    f"  SELECT doc_id, CAST({_ORACLE_GRAM_H60} AS BIGINT) & 65535 AS h16"
    "  FROM grams GROUP BY 1, 2"
    "), qt AS ("
    f"  SELECT doc_id AS qid, h16 AS hq FROM tok WHERE doc_id < {_MAXSIM_Q_DOCS}"
    "), best AS ("
    "  SELECT qt.qid, tok.doc_id, qt.hq,"
    "         min(bit_count(xor(qt.hq, tok.h16) & 65535)) AS mp"
    "  FROM qt CROSS JOIN tok GROUP BY 1, 2, 3"
    "), sc AS ("
    "  SELECT qid, doc_id, CAST(sum(16 - 2 * mp) AS BIGINT) AS score16"
    "  FROM best GROUP BY 1, 2"
    "), rk AS ("
    "  SELECT qid, doc_id, score16, row_number() OVER ("
    "    PARTITION BY qid ORDER BY score16 DESC, doc_id) AS rnk FROM sc"
    ") SELECT qid, CAST(rnk AS INT) AS rank, doc_id, score16, "
    "round(score16 / 16.0, 6) AS maxsim "
    f"FROM rk WHERE rnk <= {_MAXSIM_TOPK}"
)

# Peak-memory bound for one popcount block inside _maxsim_kernel: the
# (|qh| × tokens) uint8 matrix is chunked along the token axis to at most
# this many BYTES (r13 ADVICE: the unchunked kernel was O(|qh| · batch_rows
# · avg|hs|) per Arrow batch — GBs on token-heavy corpora). Chunk cuts land
# on document boundaries, so each `minimum.reduceat` sees whole segments and
# the scores are bit-identical to the unchunked fold (pinned in
# tests/test_round14.py with a tiny block size). Module-level so tests can
# shrink it; 4 MiB keeps the block hot in L2/L3 while amortizing the loop.
_MAXSIM_BLOCK_BYTES = 4 << 20


def _maxsim_kernel(batches):
    """MaxSim fold: per (qid, doc-batch) group, XOR-popcount scores via a
    65536-entry table and per-document ``minimum.reduceat`` — exact int64
    scores, memory bounded by ``_MAXSIM_BLOCK_BYTES`` per block (plus the
    batch itself). Module-level (not a closure) so the chunking is unit-
    testable and the pickled closure carries no driver state."""
    import numpy as np
    import pandas as pd

    # 16-bit popcount table, built once per task (~130 KB, ~1 ms)
    pop = (
        np.unpackbits(
            np.arange(65536, dtype=">u2").view(np.uint8).reshape(-1, 2),
            axis=1,
        )
        .sum(axis=1)
        .astype(np.uint8)
    )
    for pdf in batches:
        if pdf.empty:
            continue
        out_qid: list = []
        out_doc: list = []
        out_sc: list = []
        for qid, grp in pdf.groupby("qid", sort=False):
            qh = np.asarray(grp["qh"].iloc[0], dtype=np.int64).astype(np.uint16)
            lens = np.fromiter(
                (len(a) for a in grp["hs"]), dtype=np.int64, count=len(grp)
            )
            # loud guard (r13 ADVICE): reduceat silently returns the NEXT
            # segment's element for an empty segment; collect_set groups
            # always carry ≥1 token today — fail fast if that ever changes
            assert (lens > 0).all(), "empty token set in MaxSim fold"
            bounds = np.zeros(len(grp) + 1, dtype=np.int64)
            np.cumsum(lens, out=bounds[1:])
            toks = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in grp["hs"]]
            ).astype(np.uint16)
            # chunk the token axis to ≤ _MAXSIM_BLOCK_BYTES per popcount
            # block, cutting only on document boundaries
            cap = max(int(_MAXSIM_BLOCK_BYTES) // max(len(qh), 1), int(lens.max()))
            mins_parts = []
            d0 = 0
            while d0 < len(grp):
                d1 = int(np.searchsorted(bounds, bounds[d0] + cap, side="right")) - 1
                d1 = max(d1, d0 + 1)  # always advance ≥1 doc
                seg = slice(bounds[d0], bounds[d1])
                blk = pop[qh[:, None] ^ toks[None, seg]]  # (|qh|, ≤cap) uint8
                mins_parts.append(
                    np.minimum.reduceat(blk, bounds[d0:d1] - bounds[d0], axis=1)
                )
                d0 = d1
            mins = np.concatenate(mins_parts, axis=1)  # (|qh|, docs)
            score16 = (16 - 2 * mins.astype(np.int64)).sum(axis=0)
            out_qid.append(np.full(len(grp), qid, dtype=np.int64))
            out_doc.append(grp["doc_id"].to_numpy(dtype=np.int64))
            out_sc.append(score16)
        yield pd.DataFrame(
            {
                "qid": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
                "score16": np.concatenate(out_sc),
            }
        )


def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The (query × document) product is a
    BroadcastNestedLoopJoin BY DESIGN: the broadcast side is the bounded
    query set (every late-interaction reranker has this shape; ColBERT
    ships the query matrix to the shards). Round-12 physical form: token
    sets are packed into ONE array row per document, so the product is
    |docs| × |Q| rows (not |corpus tokens| × |query tokens| — the
    original form shuffled a ~25M-row pair stream through two groupBys;
    the r12 rewrite ran the whole MaxSim inside one projection via nested
    array HOFs — SCALE.md-harness A/B, local[16], median of 3, output
    bit-identical: old 15.6 s at sf0.1 / 71.2 s at ×10 → 2.25 s /
    8.15 s). Round-13 form: the row layout is unchanged, but the fold
    itself moved from interpreted array HOFs into one Arrow-batched numpy
    kernel (see the inline comment and its interleaved A/Bs: a wash at
    sf0.1, ~4–6× at ×10) — the same ±1 dot products via the XOR-popcount
    identity (1−2a)(1−2b) = 1 − 2(a⊕b), every score an exact int64; the
    only shuffles are the per-doc token collect_set and the |Q|×|docs|
    top-5 window."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.split(F.lower("text"), " ").alias("ws")).where(
        F.size("ws") >= 2
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
                )
            )
        ).alias("w"),
    )
    h60 = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    tok = grams.select("doc_id", h60.bitwiseAND(F.lit(65535)).alias("h16"))
    # r13: per-doc distinct folds into the same exchange as the set build —
    # collect_set ≡ distinct-then-collect_list up to element order, and
    # every downstream consumer (the min/sum scoring fold) is
    # order-invariant integer arithmetic, so one shuffle replaces two
    # (guide §2.4; component A/B at sf0.1: 1.04 s → 0.80 s for this frame)
    docs = tok.groupBy("doc_id").agg(F.collect_set("h16").alias("hs"))
    qs = docs.where(F.col("doc_id") < _MAXSIM_Q_DOCS).select(
        F.col("doc_id").alias("qid"), F.col("hs").alias("qh")
    )
    # Round-13 physical form: the per-pair MaxSim fold moves from nested
    # array HOFs (which Spark evaluates INTERPRETED, element by element —
    # ~|Q|·|docs|·|qh|·|hs| ≈ 100M boxed lambda calls at sf0.1) into one
    # Arrow-batched numpy kernel (optimization guide §4.2: hand whole
    # batches to vectorized native code). Per (query × doc-batch) group the
    # kernel XORs the query-token vector against the batch's concatenated
    # doc tokens, popcounts through a 65536-entry uint8 table, and takes
    # per-document minima with one segmented `minimum.reduceat` — the same
    # ±1 dot products via the XOR-popcount identity, every score an exact
    # int64. The broadcast crossJoin shape (query matrix shipped to the
    # doc partitions — ColBERT's layout) is unchanged; only the fold's
    # execution engine moved. Interleaved same-session A/Bs (alternating
    # new/old, output bit-identical 40 rows both scales): at sf0.1 a WASH
    # (new 1.99/2.50/1.84 s vs old 2.42/1.98/1.87 — the shared token
    # build dominates there), but at ×10 replication the interpreted fold
    # is the wall and the kernel removes it: new 2.59/2.69/1.91 s vs old
    # 16.25/8.57/10.57 s (~4–6×, local[16]) — the change is a
    # design-for-scale move, not an sf0.1 micro-win.
    # explicit-count repartition (AQE respects user-specified counts, but
    # would coalesce a plain post-aggregate shuffle to ~1 partition here:
    # the docs frame is tiny in BYTES while every row carries the batch
    # kernel's |q-tokens|·|doc-tokens| popcount block — the classic
    # heavy-row/small-bytes parallelism trap). The former local[] cap at
    # 16 existed because concurrent INTERPRETED-HOF tasks contend in a
    # single JVM past ~16; the numpy kernel runs in per-task Python
    # workers, so the knee is gone and plain defaultParallelism is right
    # on local and cluster masters alike.
    par = max(spark.sparkContext.defaultParallelism, 8)
    paired = docs.repartition(par, "doc_id").crossJoin(F.broadcast(qs))

    sc = paired.mapInPandas(
        _maxsim_kernel, "qid long, doc_id long, score16 long"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score16"), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _MAXSIM_TOPK)
        .select(
            "qid",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score16",
            (F.col("score16") / F.lit(16.0)).alias("maxsim"),
        )
    )


# --- PCM16 energy census (the DSP step after mm_wav_meta's header triage) -----------

_WAVE_DOC_LO, _WAVE_DOC_HI = 120, 160
_WAVE_RATE = 16_000

MM_WAV_ENERGY_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, 160 + (doc_id % 17) * 8 AS n FROM documents"
    f"  WHERE doc_id >= {_WAVE_DOC_LO} AND doc_id < {_WAVE_DOC_HI}"
    "), s AS ("
    "  SELECT doc_id, CAST(k AS BIGINT) AS k,"
    "  CAST((doc_id * 7919 + k * 104729 + 12345) % 65536 - 32768 AS BIGINT) AS v"
    "  FROM d, unnest(range(n)) t(k)"
    "), z AS ("
    "  SELECT doc_id, v,"
    "  CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY k) IS NULL THEN NULL"
    "  WHEN (v < 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY k) < 0)"
    "  THEN 1 ELSE 0 END AS zc FROM s"
    ") SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples, "
    "CAST(max(abs(v)) AS BIGINT) AS peak_abs, "
    "CAST(sum(v) AS BIGINT) AS sum_s, "
    "round(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)), 6) AS rms, "
    "CAST(sum(zc) AS BIGINT) AS zero_crossings "
    "FROM z GROUP BY doc_id"
)


def mm_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Header fields (data offset) are fixed by
    the canonical 44-byte layout the stager writes; the sample kernel
    is ``mapInPandas`` → ``np.frombuffer(content[44:], '<i2')`` — one
    Arrow batch in, one tiny census frame out, so executor memory holds
    the batch's blobs once, never a per-row Python object per sample.
    At 100 TB this is the canonical audio feature-extraction shape:
    binaryFile splits distribute blobs, the vectorized kernel reduces
    each to O(1) features, and nothing but the census shuffles.

    The fixture is PRE-MATERIALIZED once per sf_dir (r11 verdict item 6:
    registered mm/audio keys must eat real files, not re-synthesize on
    the driver every run) — steady state is a manifest check + pure
    binaryFile scan; only the bounded doc_id list is collected."""
    from ..sources.binfix import ensure_blob_fixture, pcm16_wav_payload

    d = (
        load_table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") >= _WAVE_DOC_LO) & (F.col("doc_id") < _WAVE_DOC_HI)
        )
        .select("doc_id")
    )
    ids = sorted(r.doc_id for r in d.collect())  # ≤40 rows — fixture key only
    if not ids:
        # empty corpus staged zero blobs (mm_png_meta convention)
        return spark.createDataFrame(
            [],
            "doc_id long, n_samples long, peak_abs long, sum_s long, "
            "rms double, zero_crossings long",
        )
    stage = ensure_blob_fixture(
        "wavpcm",
        sf_dir,
        version=1,
        names=[f"{i}.wav" for i in ids],
        payload_of=lambda name: pcm16_wav_payload(
            int(name.split(".")[0]), rate=_WAVE_RATE
        ),
    )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.wav").select(
        "path", "content"
    )

    def kernel(batches):
        import numpy as np
        import os as _os
        import pandas as pd

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                v = np.frombuffer(bytes(content)[44:], dtype="<i2").astype(
                    np.int64
                )
                out.append(
                    (
                        doc_id,
                        len(v),
                        int(np.max(np.abs(v))),
                        int(v.sum()),
                        round(float(np.sqrt(float((v * v).sum()) / len(v))), 6),
                        int(((v[1:] < 0) != (v[:-1] < 0)).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_samples",
                    "peak_abs",
                    "sum_s",
                    "rms",
                    "zero_crossings",
                ],
            )

    return blobs.mapInPandas(
        kernel,
        "doc_id long, n_samples long, peak_abs long, sum_s long, "
        "rms double, zero_crossings long",
    )


# --- Chow structural-break F-test ----------------------------------------------------

_CHOW_F_CUTOFF = 3.0

# Shared (t, y) daily purchase-revenue series + per-bucket exact
# sufficient statistics; seg 0 = pooled, 1 = first half, 2 = second half.
_CHOW_CTES = (
    "g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS ("
    "  SELECT CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS t, "
    "  CAST(y AS HUGEINT) AS y FROM g"
    "), nn AS (SELECT CAST(count(*) AS HUGEINT) AS nall FROM r), "
    "seg AS ("
    "  SELECT CASE WHEN t * 2 <= (SELECT nall FROM nn) THEN 1 ELSE 2 END AS s, "
    "  t, y FROM r"
    "), buck AS ("
    "  SELECT s, t, y FROM seg UNION ALL SELECT 0 AS s, t, y FROM seg"
    "), st AS ("
    "  SELECT s, CAST(count(*) AS HUGEINT) AS n, sum(t) AS st, "
    "  sum(t * t) AS st2, sum(y) AS sy, sum(y * y) AS syy, sum(t * y) AS sty"
    "  FROM buck GROUP BY s"
    "), ssr AS ("
    "  SELECT s, n, CAST((n * syy - sy * sy) * (n * st2 - st * st)"
    "   - (n * sty - st * sy) * (n * sty - st * sy) AS DOUBLE)"
    "   / CAST(n * (n * st2 - st * st) AS DOUBLE) AS ssr FROM st"
    ")"
)

STAT_CHOW_ORACLE = (
    f"WITH {_CHOW_CTES} "
    "SELECT CAST((SELECT n FROM ssr WHERE s = 0) AS INT) AS n_days, "
    "CAST((SELECT n FROM ssr WHERE s = 1) AS INT) AS n_pre, "
    "CAST((SELECT n FROM ssr WHERE s = 2) AS INT) AS n_post, "
    "round((SELECT ssr FROM ssr WHERE s = 0) / 10000, 6) AS ssr_pooled_usd2, "
    "round(((SELECT ssr FROM ssr WHERE s = 1) + (SELECT ssr FROM ssr WHERE s = 2))"
    " / 10000, 6) AS ssr_within_usd2, "
    "round((((SELECT ssr FROM ssr WHERE s = 0) - (SELECT ssr FROM ssr WHERE s = 1)"
    "  - (SELECT ssr FROM ssr WHERE s = 2)) / 2)"
    " / (((SELECT ssr FROM ssr WHERE s = 1) + (SELECT ssr FROM ssr WHERE s = 2))"
    "  / ((SELECT n FROM ssr WHERE s = 0) - 4)), 6) AS f_stat, "
    "round((((SELECT ssr FROM ssr WHERE s = 0) - (SELECT ssr FROM ssr WHERE s = 1)"
    "  - (SELECT ssr FROM ssr WHERE s = 2)) / 2)"
    " / (((SELECT ssr FROM ssr WHERE s = 1) + (SELECT ssr FROM ssr WHERE s = 2))"
    "  / ((SELECT n FROM ssr WHERE s = 0) - 4)), 6) "
    f"> {_CHOW_F_CUTOFF} AS break_detected"
)


def stat_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One day-grain aggregate absorbs the event
    volume (the staged_r44 trend-family shape); the pooled/segment
    sufficient statistics are a 3-row groupBy over a 2× duplicated
    ≤|days| series, and the F assembly is a 1-row crossJoin of
    broadcast aggregates. Latency is the day count, not data volume —
    scale-safe by construction. break_detected compares the ROUNDED F
    on both engines so the boundary can't diverge."""
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
    nall = r.agg(F.count(F.lit(1)).cast(_D38).alias("nall"))
    seg = r.crossJoin(F.broadcast(nall)).select(
        F.when(F.col("t") * 2 <= F.col("nall"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("s"),
        "t",
        "y",
    )
    buck = seg.unionAll(seg.select(F.lit(0).alias("s"), "t", "y"))
    st = buck.groupBy("s").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("st2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    d_ = F.col("n") * F.col("st2") - F.col("st") * F.col("st")
    a_ = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    n_ = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    ssr = st.select(
        "s",
        F.col("n"),
        (
            (a_ * d_ - n_ * n_).cast("double")
            / (F.col("n") * d_).cast("double")
        ).alias("ssr"),
    )
    p = ssr.where(F.col("s") == 0).select(
        F.col("n").alias("n0"), F.col("ssr").alias("ssr0")
    )
    s1 = ssr.where(F.col("s") == 1).select(
        F.col("n").alias("n1"), F.col("ssr").alias("ssr1")
    )
    s2 = ssr.where(F.col("s") == 2).select(
        F.col("n").alias("n2"), F.col("ssr").alias("ssr2")
    )
    row = p.crossJoin(F.broadcast(s1)).crossJoin(F.broadcast(s2))
    within = F.col("ssr1") + F.col("ssr2")
    f_stat = F.round(
        ((F.col("ssr0") - F.col("ssr1") - F.col("ssr2")) / 2)
        / (within / (F.col("n0").cast("double") - 4)),
        6,
    )
    return row.select(
        F.col("n0").cast("int").alias("n_days"),
        F.col("n1").cast("int").alias("n_pre"),
        F.col("n2").cast("int").alias("n_post"),
        F.round(F.col("ssr0") / 10000, 6).alias("ssr_pooled_usd2"),
        F.round(within / 10000, 6).alias("ssr_within_usd2"),
        f_stat.alias("f_stat"),
        (f_stat > _CHOW_F_CUTOFF).alias("break_detected"),
    )


# --- HITS hubs & authorities on the customer→part purchase bipartite graph ----------

_HITS_TOPK = 10

GRAPH_HITS_ORACLE = (
    "WITH pairs AS ("
    "  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p"
    "  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
    "), a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a FROM pairs GROUP BY p), "
    "h1 AS (SELECT c, CAST(sum(a) AS BIGINT) AS h FROM pairs JOIN a1 USING (p)"
    "  GROUP BY c), "
    "a2 AS (SELECT p, CAST(sum(h) AS BIGINT) AS a FROM pairs JOIN h1 USING (c)"
    "  GROUP BY p), "
    "h2 AS (SELECT c, CAST(sum(a) AS BIGINT) AS h FROM pairs JOIN a2 USING (p)"
    "  GROUP BY c), "
    "am AS (SELECT max(a) AS m FROM a2), hm AS (SELECT max(h) AS m FROM h2), "
    "top_a AS ("
    "  SELECT 'authority' AS role, p AS id, a AS score, "
    "  round(CAST(a AS DOUBLE) / (SELECT m FROM am), 6) AS norm_score, "
    "  row_number() OVER (ORDER BY a DESC, p) AS rnk FROM a2"
    "), top_h AS ("
    "  SELECT 'hub' AS role, c AS id, h AS score, "
    "  round(CAST(h AS DOUBLE) / (SELECT m FROM hm), 6) AS norm_score, "
    "  row_number() OVER (ORDER BY h DESC, c) AS rnk FROM h2"
    ") SELECT role, CAST(rnk AS INT) AS rank, id, score, norm_score FROM ("
    f"  SELECT * FROM top_a WHERE rnk <= {_HITS_TOPK} "
    f"  UNION ALL SELECT * FROM top_h WHERE rnk <= {_HITS_TOPK})"
)


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The edge list is derived once (one
    orders⋈lineitem equi-join + distinct), persisted for the two
    sweeps, and every sweep is one hash equi-join + map-side-combined
    groupBy on the edge key — the standard BSP message-passing round,
    O(|E|) per sweep with no driver state. Unnormalized integer scores
    make the two-engine comparison exact; per-iteration normalization
    (a constant factor) cannot change any ranking, so the census is
    the same one a float HITS would produce. The 1-row max aggregates
    ride broadcasts; the top-k windows sort only each role's score
    table."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    pairs = o.join(li, "ok").select("c", "p").distinct()
    with persisting() as keep:
        keep(pairs)
        a1 = pairs.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("a"))
        h1 = (
            pairs.join(a1, "p")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        a2 = (
            pairs.join(h1, "c")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        h2 = (
            pairs.join(a2, "p")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        am = a2.agg(F.max("a").alias("m"))
        hm = h2.agg(F.max("h").alias("m"))
        wa = Window.orderBy(F.desc("a"), "p")
        wh = Window.orderBy(F.desc("h"), "c")
        top_a = (
            a2.withColumn("rnk", F.row_number().over(wa))
            .where(F.col("rnk") <= _HITS_TOPK)
            .crossJoin(F.broadcast(am))
            .select(
                F.lit("authority").alias("role"),
                F.col("rnk").cast("int").alias("rank"),
                F.col("p").alias("id"),
                F.col("a").alias("score"),
                F.round(F.col("a").cast("double") / F.col("m"), 6).alias(
                    "norm_score"
                ),
            )
        )
        top_h = (
            h2.withColumn("rnk", F.row_number().over(wh))
            .where(F.col("rnk") <= _HITS_TOPK)
            .crossJoin(F.broadcast(hm))
            .select(
                F.lit("hub").alias("role"),
                F.col("rnk").cast("int").alias("rank"),
                F.col("c").alias("id"),
                F.col("h").alias("score"),
                F.round(F.col("h").cast("double") / F.col("m"), 6).alias(
                    "norm_score"
                ),
            )
        )
        out = top_a.unionAll(top_h)
        return pin(out)


DEV_CASES = [
    ("sim_maxsim", sim_maxsim, SIM_MAXSIM_ORACLE),
    ("mm_wav_energy", mm_wav_energy, MM_WAV_ENERGY_ORACLE),
    ("stat_chow", stat_chow, STAT_CHOW_ORACLE),
    ("graph_hits", graph_hits, GRAPH_HITS_ORACLE),
]
