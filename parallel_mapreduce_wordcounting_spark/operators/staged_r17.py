"""Format-breadth / model-evaluation / certificate wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r17.py holds the independent property checks.

Contents:

- ``mm_npy_meta`` — numpy ``.npy`` header parse from REAL staged files,
  entirely JVM-side (magic, version, little-endian header length, the
  dict header's shape/dtype/order) — completes the codec-free binary
  triad: PNG (big-endian), WAV (little-endian), NPY (text header). The
  tensor-dump audit a 100 TB embedding lake runs before any GPU loads.
- ``event_markov_perplexity`` — per-antecedent cross-entropy and
  perplexity of the behavioral Markov chain: the LM-evaluation metric
  shape (event_markov_eval reports the argmax accuracy; this reports
  how CONCENTRATED each row of the transition matrix is).
- ``dedup_eval_winnow`` — precision/recall of dedup_winnow's fingerprint
  candidates against the exact ≥7-consecutive-token ground truth; by the
  winnowing theorem recall is EXACTLY 1.0, which this op measures rather
  than assumes (the detector-evaluation-as-data shape of
  dedup_eval_simhash).
- ``stat_hoeffding_bound`` — distribution-free 95% confidence
  certificates for per-source mean quality: Hoeffding's
  ε = √(ln(2/δ)/2n) on a [0,1] score, no normality assumed — the
  sample-size certificate a curation report should carry.
- ``text_heaps_law`` — per-language vocabulary-growth checkpoints
  (Heaps' law): cumulative distinct words at 25/50/75/100% of the
  doc_id-ordered corpus — the vocabulary-budget curve against corpus
  growth (text_vocab_coverage's dual).

Exactness doctrine: unchanged — exact integer counts everywhere a rank
or comparison is decided; doubles only in final closed-form expressions
rounded ≤6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting
from ..sources.loader import load_table
from .staged_r15 import _WIN_K, _WIN_W

#: winnowing guarantee length k + w - 1: any shared token run at least this
#: long forces a shared fingerprint — the eval's ground-truth gram size is
#: DERIVED from the staged_r15 knobs so tuning them cannot silently stale
#: the theorem this eval measures (r8 review finding 6)
_GUAR = _WIN_K + _WIN_W - 1

# --- numpy .npy header metadata ----------------------------------------------

_NPY_MAGIC_HEX = "934E554D5059"  # \x93NUMPY
_NPY_N = 40  # staged files (doc_id < 40)

MM_NPY_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(1 + doc_id % 7 AS BIGINT) AS rows_, "
    "CAST(1 + n_chars % 13 AS BIGINT) AS cols_, "
    "'<f4' AS descr, FALSE AS fortran_order, "
    "CAST((1 + doc_id % 7) * (1 + n_chars % 13) * 4 AS BIGINT) AS data_bytes, "
    "TRUE AS valid_magic "
    f"FROM documents WHERE doc_id < {_NPY_N}"
)


def mm_npy_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tensor-file metadata from REAL ``.npy`` bytes ENTIRELY JVM-side —
    no numpy load on the read path and no Python UDF: the npy format v1
    is ``\\x93NUMPY`` magic, version bytes, a little-endian uint16 header
    length at bytes 9–10, then an ASCII dict literal
    ``{'descr': '<f4', 'fortran_order': False, 'shape': (r, c), }`` —
    shape/dtype/order come from regexp over that substring, and the
    payload size is total − (10 + header_len), cross-checked against
    rows×cols×4 by the oracle. Header parsing without deserializing the
    tensor is how an embedding lake audits shard dumps at 100 TB.

    40 deterministic files are staged via ``numpy.save`` from the
    documents table (rows = 1 + doc_id%7, cols = 1 + n_chars%13,
    float32), so the ORACLE derives every field from the source table
    and any staging/scan corruption fails the hash.

    Scale: binaryFile scan parallelizes per file; only the ≤118-byte
    header substring feeds the projection."""
    import hashlib
    import os
    import tempfile

    import numpy as np

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _NPY_N)
        .select("doc_id", "n_chars")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_npy_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # bounded fixture rows — staging only
        rows = 1 + r.doc_id % 7
        cols = 1 + r.n_chars % 13
        arr = np.arange(rows * cols, dtype=np.float32).reshape(rows, cols)
        np.save(os.path.join(stage, f"{r.doc_id}.npy"), arr)
    if not os.listdir(stage):
        # empty corpus staged zero blobs (mm_png_meta convention)
        return spark.createDataFrame(
            [],
            "doc_id long, rows_ long, cols_ long, descr string, "
            "fortran_order boolean, data_bytes long, valid_magic boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.npy")
    # little-endian uint16 at 1-based offsets 9..10
    hlen = (
        F.conv(F.hex(F.substring("content", 9, 1)), 16, 10).cast("long")
        + F.conv(F.hex(F.substring("content", 10, 1)), 16, 10).cast("long")
        * 256
    )
    header = F.substring("content", 11, 200).cast("string")
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.npy$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract(header, r"'shape': \((\d+), (\d+)\)", 1)
        .cast("long")
        .alias("rows_"),
        F.regexp_extract(header, r"'shape': \((\d+), (\d+)\)", 2)
        .cast("long")
        .alias("cols_"),
        F.regexp_extract(header, r"'descr': '([^']+)'", 1).alias("descr"),
        (
            F.regexp_extract(header, r"'fortran_order': (\w+)", 1) == "True"
        ).alias("fortran_order"),
        (F.col("length") - (10 + hlen)).cast("long").alias("data_bytes"),
        (F.hex(F.substring("content", 1, 6)) == _NPY_MAGIC_HEX).alias(
            "valid_magic"
        ),
    )


# --- Markov-chain perplexity --------------------------------------------------

EVENT_MARKOV_PERPLEXITY_ORACLE = (
    "WITH s AS ("
    "  SELECT user_id, event_type, lead(event_type) OVER ("
    "    PARTITION BY user_id ORDER BY ts, event_id) AS next_type"
    "  FROM events"
    "), tr AS ("
    "  SELECT event_type, next_type, count(*) AS n FROM s "
    "  WHERE next_type IS NOT NULL GROUP BY 1, 2"
    "), tot AS (SELECT event_type, sum(n) AS total FROM tr GROUP BY 1), "
    "h AS ("
    "  SELECT tr.event_type, tot.total, "
    "  -sum((tr.n / (1.0 * tot.total)) "
    "    * (ln(tr.n / (1.0 * tot.total)) / ln(2.0))) AS hh"
    "  FROM tr JOIN tot ON tot.event_type = tr.event_type"
    "  GROUP BY tr.event_type, tot.total"
    ") SELECT event_type, CAST(total AS BIGINT) AS n_transitions, "
    "round(hh, 6) AS entropy_bits, "
    "round(exp(hh * ln(2.0)), 6) AS perplexity "
    "FROM h"
)


def event_markov_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-antecedent cross-entropy and perplexity of the behavioral
    Markov chain: H(i) = −Σ_j p(j|i)·log₂ p(j|i) over the in-sample
    transition distribution, perplexity = 2^H — the LM-evaluation metric
    shape applied to the event stream (event_markov_eval's accuracy says
    how often the argmax wins; this says how concentrated the whole row
    is — perplexity |types| means the chain is uninformative, near 1
    means the stream is almost deterministic and sequence features will
    carry signal).

    Transitions order by (ts, event_id) within user (integer tiebreaks —
    engine-exact counts); each row's entropy sums ≤ |types| double terms
    of exact-count ratios under the 6-dp round (the stat_chi2 precedent).

    Scale: one user-partitioned window (the event_sessionize shape),
    then constant-size |types|² arithmetic."""
    from .staged_r14 import markov_transitions

    tr, tot = markov_transitions(spark, sf_dir)
    p = F.col("n") / (1.0 * F.col("total"))
    h = (
        tr.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "total")
        .agg((-F.sum(p * (F.log(p) / F.log(F.lit(2.0))))).alias("hh"))
    )
    return h.select(
        "event_type",
        F.col("total").cast("long").alias("n_transitions"),
        F.round(F.col("hh"), 6).alias("entropy_bits"),
        F.round(F.exp(F.col("hh") * F.log(F.lit(2.0))), 6).alias(
            "perplexity"
        ),
    )


# --- winnowing detector evaluation --------------------------------------------

def _winnow_parts():
    from .staged_r15 import _WIN_K, _WIN_W, dedup_winnow

    return _WIN_K, _WIN_W, dedup_winnow


# ground truth: pairs sharing >= k+w-1 consecutive tokens
_TRUTH7_SQL = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), g7 AS ("
    "  SELECT doc_id, unnest(list_transform(generate_series(1, "
    f"    greatest(len(toks) - {_GUAR - 1}, 0)), "
    f"    i -> array_to_string(list_slice(toks, i, i + {_GUAR - 1}), ' '))) AS g"
    "  FROM t"
    "), gd AS (SELECT DISTINCT doc_id, g FROM g7) "
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM gd a JOIN gd b ON a.g = b.g AND a.doc_id < b.doc_id"
)


def _dedup_winnow_oracle() -> str:
    from .staged_r15 import DEDUP_WINNOW_ORACLE

    return DEDUP_WINNOW_ORACLE


DEDUP_EVAL_WINNOW_ORACLE = (
    f"WITH truth AS ({_TRUTH7_SQL}), "
    f"pred AS (SELECT doc_a, doc_b FROM ({_dedup_winnow_oracle()}) t), "
    "m AS ("
    "  SELECT "
    "  (SELECT count(*) FROM truth) AS n_truth, "
    "  (SELECT count(*) FROM pred) AS n_pred, "
    "  (SELECT count(*) FROM truth JOIN pred USING (doc_a, doc_b)) AS tp"
    ") SELECT CAST(n_truth AS BIGINT) AS n_truth, "
    "CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp, "
    "round(tp / (1.0 * nullif(n_pred, 0)), 6) AS precision_r, "
    "round(tp / (1.0 * nullif(n_truth, 0)), 6) AS recall_r "
    "FROM m"
)


def dedup_eval_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector evaluation AS data for dedup_winnow: precision/recall of
    the fingerprint candidate pairs against the EXACT ground truth
    "shares ≥ k+w−1 = 7 consecutive tokens". The winnowing guarantee
    makes recall EXACTLY 1.0 — this op MEASURES the theorem instead of
    assuming it (a recall < 1 driver verdict would mean the window-min
    selection is broken), while precision reports how many candidates
    come from sub-window sharing — the number that prices the exact
    verify stage. The dedup_eval_simhash shape, fully hash-oracled.

    Scale: truth is a 7-gram inverted-index join (the dedup_spans
    shape); pred reuses dedup_winnow's bucketed fingerprint join; the TP
    join is pair-keyed. No all-pairs anywhere."""
    _, _, dedup_winnow = _winnow_parts()
    # both sides are kept below: three counting actions follow, and
    # without the cache the fingerprint pipeline and the truth self-join
    # each run twice from scratch (r8 review finding 9)
    pred = dedup_winnow(spark, sf_dir).select("doc_a", "doc_b")
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        # the short-doc guard (see dedup_winnow): sub-guarantee docs have
        # no 7-token runs and Spark's descending sequence(1, 0) would
        # throw in the transform below
        .where(F.size("toks") >= _GUAR)
    )
    g7 = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {_GUAR - 1}, 0)), "
                f"i -> concat_ws(' ', slice(toks, i, {_GUAR})))"
            )
        ).alias("g"),
    ).distinct()
    ga = g7.select(F.col("doc_id").alias("doc_a"), "g")
    gb = g7.select(F.col("doc_id").alias("doc_b"), "g")
    truth = (
        ga.join(gb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    with persisting() as keep:
        n_truth = keep(truth).count()
        n_pred = keep(pred).count()
        tp = truth.join(pred, ["doc_a", "doc_b"]).count()
    # the ratios round in SPARK (HALF_UP on doubles, like the oracle's
    # DuckDB round) — Python round() is banker's and flips dyadic halves
    # such as 1/128 (r8 review finding 3)
    counts = spark.createDataFrame(
        [(n_truth, n_pred, tp)], "n_truth long, n_pred long, tp long"
    )
    return counts.select(
        "n_truth",
        "n_pred",
        "tp",
        F.round(
            F.col("tp") / F.nullif(F.col("n_pred").cast("double"), F.lit(0.0)), 6
        ).alias("precision_r"),
        F.round(
            F.col("tp") / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0)), 6
        ).alias("recall_r"),
    )


# --- Hoeffding certificates ---------------------------------------------------

_HOEFF_DELTA = 0.05  # 95% two-sided

STAT_HOEFFDING_BOUND_ORACLE = (
    "WITH q AS ("
    "  SELECT source, round(len(list_distinct(string_split(text, ' '))) "
    "    / (1.0 * len(string_split(text, ' '))), 6) AS score"
    "  FROM documents"
    "), s AS ("
    "  SELECT source, count(*) AS n, round(avg(score), 6) AS mean_score"
    "  FROM q GROUP BY source"
    ") SELECT source, CAST(n AS BIGINT) AS n_docs, mean_score, "
    f"round(sqrt(ln(2.0 / {_HOEFF_DELTA}) / (2.0 * n)), 6) AS eps, "
    f"round(greatest(mean_score - sqrt(ln(2.0 / {_HOEFF_DELTA}) / (2.0 * n)), 0.0), 6) AS ci_lo, "
    f"round(least(mean_score + sqrt(ln(2.0 / {_HOEFF_DELTA}) / (2.0 * n)), 1.0), 6) AS ci_hi "
    "FROM s"
)


def stat_hoeffding_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% certificates for per-source mean quality:
    Hoeffding's inequality gives ε = √(ln(2/δ)/(2n)) for the mean of any
    [0,1]-bounded score with NO normality or variance assumption — the
    honest error bar for a curation dashboard (stat_bootstrap_ci's
    resampled interval assumes the sample represents the tail; Hoeffding
    is worst-case over every distribution on [0,1]). Score = the
    6-dp-rounded type-token ratio (text_quality's signal); CI clamped to
    the score's [0,1] support.

    Exactness: n is an exact integer; mean is rounded before use; ε and
    the clamped endpoints are single closed-form doubles over (n, mean).

    Scale: one map-side-combining groupBy to |sources| rows."""
    toks = F.split(F.col("text"), " ")
    q = load_table(spark, sf_dir, "documents").select(
        "source",
        F.round(
            F.size(F.array_distinct(toks)) / (1.0 * F.size(toks)), 6
        ).alias("score"),
    )
    s = q.groupBy("source").agg(
        F.count("*").alias("n"), F.round(F.avg("score"), 6).alias("mean_score")
    )
    eps = F.sqrt(F.log(F.lit(2.0 / _HOEFF_DELTA)) / (2.0 * F.col("n")))
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        "mean_score",
        F.round(eps, 6).alias("eps"),
        F.round(F.greatest(F.col("mean_score") - eps, F.lit(0.0)), 6).alias(
            "ci_lo"
        ),
        F.round(F.least(F.col("mean_score") + eps, F.lit(1.0)), 6).alias(
            "ci_hi"
        ),
    )


# --- Heaps'-law vocabulary growth ---------------------------------------------

_HEAPS_Q = 4  # checkpoints at 1/4, 2/4, 3/4, 4/4 of the ordered corpus

TEXT_HEAPS_LAW_ORACLE = (
    "WITH d AS ("
    "  SELECT lang, doc_id, string_split(text, ' ') AS toks, "
    "  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk, "
    "  count(*) OVER (PARTITION BY lang) AS nd"
    "  FROM documents"
    "), tok AS ("
    "  SELECT lang, rk, nd, unnest(toks) AS word FROM d"
    "), fw AS ("
    "  SELECT lang, word, min(rk) AS first_rk FROM tok GROUP BY 1, 2"
    "), cp AS ("
    f"  SELECT lang, nd, q.q, CAST(ceil(nd * q.q / {_HEAPS_Q}.0) AS BIGINT) "
    "    AS rk_cut"
    "  FROM (SELECT DISTINCT lang, nd FROM d) x, "
    f"  (SELECT unnest(generate_series(1, {_HEAPS_Q})) AS q) q"
    ") SELECT cp.lang, CAST(cp.q AS BIGINT) AS checkpoint, "
    "CAST(cp.rk_cut AS BIGINT) AS n_docs, "
    "CAST(coalesce(sum(CASE WHEN tok.rk <= cp.rk_cut THEN 1 ELSE 0 END), 0) "
    "  AS BIGINT) AS n_tokens, "
    "CAST((SELECT count(*) FROM fw WHERE fw.lang = cp.lang "
    "  AND fw.first_rk <= cp.rk_cut) AS BIGINT) AS vocab "
    "FROM cp LEFT JOIN tok ON tok.lang = cp.lang "
    "GROUP BY cp.lang, cp.q, cp.rk_cut"
)


def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary-growth checkpoints (Heaps' law V ≈ K·nᵝ):
    cumulative token count and DISTINCT-word count after 25/50/75/100%
    of the doc_id-ordered corpus — the curve that says how fast the
    vocabulary (hence tokenizer/embedding-table budget) grows as the
    corpus scales, and whose flattening (β falling) signals the corpus
    is saturating its domain. text_vocab_coverage fixes the corpus and
    sweeps vocabulary size; this fixes nothing and sweeps CORPUS size.

    Exactness: the checkpoint membership is decided on integer doc
    ranks (doc_id order — engine-exact); vocabulary at a checkpoint
    counts words whose FIRST-occurrence rank is within it (one exact min
    per (lang, word)); every output is an exact integer.

    Scale: one lang-partitioned rank window over DOCUMENTS (not tokens),
    the wordcount aggregate for first occurrences, and a |langs|×4
    checkpoint frame — corpus volume touches only map-side-combining
    aggregates."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
    )
    wl = Window.partitionBy("lang")
    d = d.select(
        "lang",
        "toks",
        F.row_number().over(wl.orderBy("doc_id")).alias("rk"),
        F.count("*").over(wl).alias("nd"),
    )
    tok = d.select(
        "lang", "rk", "nd", F.explode("toks").alias("word")
    )
    fw = tok.groupBy("lang", "word").agg(F.min("rk").alias("first_rk"))
    cp = (
        d.select("lang", "nd")
        .distinct()
        .select(
            "lang",
            "nd",
            F.explode(F.sequence(F.lit(1), F.lit(_HEAPS_Q))).alias("q"),
        )
        .select(
            "lang",
            "q",
            F.ceil(F.col("nd") * F.col("q") / float(_HEAPS_Q))
            .cast("long")
            .alias("rk_cut"),
        )
    )
    ntok = (
        tok.join(F.broadcast(cp), "lang")
        .filter(F.col("rk") <= F.col("rk_cut"))
        .groupBy("lang", "q", "rk_cut")
        .agg(F.count("*").alias("n_tokens"))
    )
    nvoc = (
        fw.join(F.broadcast(cp), "lang")
        .filter(F.col("first_rk") <= F.col("rk_cut"))
        .groupBy("lang", "q", "rk_cut")
        .agg(F.count("*").alias("vocab"))
    )
    return (
        cp.join(ntok, ["lang", "q", "rk_cut"], "left")
        .join(nvoc, ["lang", "q", "rk_cut"], "left")
        .select(
            "lang",
            F.col("q").cast("long").alias("checkpoint"),
            F.col("rk_cut").cast("long").alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.col("vocab"), F.lit(0)).cast("long").alias("vocab"),
        )
    )


DEV_CASES = [
    ("mm_npy_meta", mm_npy_meta, MM_NPY_META_ORACLE),
    (
        "event_markov_perplexity",
        event_markov_perplexity,
        EVENT_MARKOV_PERPLEXITY_ORACLE,
    ),
    ("dedup_eval_winnow", dedup_eval_winnow, DEDUP_EVAL_WINNOW_ORACLE),
    ("stat_hoeffding_bound", stat_hoeffding_bound, STAT_HOEFFDING_BOUND_ORACLE),
    ("text_heaps_law", text_heaps_law, TEXT_HEAPS_LAW_ORACLE),
]
