"""ML-evaluation / sparse-retrieval / experimentation wave — REGISTERED in
round 8 through the ``@register`` decorators on its operators (the module
has no ``DEV_CASES``). tests/test_oracle_parity.py runs the fn-vs-DuckDB
compare; tests/test_staged_r10.py holds the independent property checks.

Contents:

- ``sim_sparse_cosine`` — exact tf-idf cosine document pairs via the sparse
  inverted-index join (retrieval/dedup without dense embeddings).
- ``text_ngram_novelty`` — per-document novel-5-gram rate (the originality /
  memorization-risk signal complementary to dedup_spans' registry).
- ``stat_auc`` — exact ROC AUC of a score column against a binary label via
  tie-corrected midranks, NO global sort (bucketed distributed prefix-sum).
- ``stat_psi`` — Population Stability Index between two event populations
  over integer value buckets, with exclusive-mass accounting (drift score
  beside agg_drift_chi2's χ² table).
- ``event_survival`` — discrete Kaplan–Meier survival over user activity
  lifetimes with right-censoring.
- ``event_ab_cuped`` — CUPED variance-reduced A/B read-out (pre-period
  covariate adjustment) beside event_ab_test's raw z-test.
- ``stat_bootstrap_ci`` — deterministic Poisson-bootstrap confidence
  interval for the mean (B=32 hash-replayable replicates).
- ``scan_file_stats`` — per-partition-file ingest census over a REAL
  partitioned-parquet round trip (the small-files/skew observability scan).
- ``mm_png_meta`` — image metadata (width/height/bit depth) parsed from
  REAL PNG bytes JVM-side — byte-slice arithmetic, no codec, full oracle.
- ``text_readability`` — syllable-proxy readability per language (exact
  integer vowel-group counts, one double at the end).

Exactness doctrine (same as the registered set): every driver-compared
number is either an int64/decimal(38) accumulation (order-independent,
engine-identical) or ONE double expression evaluated over identical integer
operands on both engines, rounded to ≤6 dp — except where a float SUM of
per-element double terms is itself the statistic (sparse dots, PSI/entropy
sums), where both engines sum the same ≤1e-15-noise terms and the 6-dp
round absorbs the order difference (the text_js_divergence precedent,
hash-verified since r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .dedup import ORACLE_SIMHASH_FP, SHINGLES_CTE, oracle_jaccard_pairs_select
from .exact import floor_day_us_sql, money_cents, money_cents_sql
from ..registry import register

# --- sparse tf-idf cosine pairs ----------------------------------------------

# Threshold on the 6-dp ROUNDED cosine (boundary-exact cross-engine).
# Picked from the measured fixture distribution: pairwise tf-idf cosines
# peak at 0.985/0.947/~0.99 across sf0.001/0.01/0.1, and τ=0.9 keeps
# 25/22/2502 pairs — non-vacuous truth at every scale without quadratic
# output (production near-dup cutoffs sit here too).
_SPARSE_TAU = 0.9

SIM_SPARSE_COSINE_ORACLE = (
    "WITH toks AS ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
    "), tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2), "
    "df AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "w AS ("
    "  SELECT tf.doc_id, tf.word, tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS w"
    "  FROM tf JOIN df USING (word) CROSS JOIN n"
    "), nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id), "
    "dots AS ("
    "  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, sum(a.w * b.w) AS dot"
    "  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id"
    "  GROUP BY 1, 2"
    ") SELECT doc_id_a, doc_id_b, "
    "round(dot / (na.nrm * nb.nrm), 6) AS cosine "
    "FROM dots JOIN nrm na ON na.doc_id = doc_id_a "
    "JOIN nrm nb ON nb.doc_id = doc_id_b "
    f"WHERE round(dot / (na.nrm * nb.nrm), 6) >= {_SPARSE_TAU}"
)


# auto-strategy cutoff: an active vocabulary this small densifies to
# ≤ 32 KB/doc vectors — GEMM territory; above it, postings stay sparse
_DENSE_VOCAB_MAX = 4096


def sparse_prefix_postings(
    w: DataFrame, df_: DataFrame, nrm: DataFrame, tau: float
) -> DataFrame:
    """The AllPairs prefix index of a weighted posting frame: postings
    (doc_id, word) kept only while the document's UNIT-vector suffix
    norm² from that position — under the global (df ASC, word)
    rarest-first order — is still ≥ τ². For any pair with cosine ≥ τ, the
    first shared term t satisfies dot ≤ ‖â_sfx(t)‖·‖b̂_sfx(t)‖, so both
    suffix norms are ≥ τ and both postings survive: joining these prefixes
    yields a LOSSLESS candidate superset. Hub terms (df → N) carry
    near-zero idf, sort last, and fall below the τ cut in any document
    with real content — zero hub fan-out. Factored out of
    :func:`sim_sparse_cosine` so the pruning is testable on planted hub
    corpora (tests/test_round10.py).

    ``w``: (doc_id, word, w) tf-idf postings; ``df_``: (word, df);
    ``nrm``: (doc_id, nrm) the L2 norms of ``w``."""
    return (
        w.join(F.broadcast(df_), "word")
        .join(nrm, "doc_id")
        .withColumn("x2", (F.col("w") / F.col("nrm")) * (F.col("w") / F.col("nrm")))
        .withColumn(
            "sfx2",
            F.sum("x2").over(
                Window.partitionBy("doc_id")
                .orderBy("df", "word")
                .rowsBetween(Window.currentRow, Window.unboundedFollowing)
            ),
        )
        # τ−1e-6 (not τ): the OUTPUT threshold compares the 6-dp ROUNDED
        # cosine, so a pair at true cosine τ−4e-7 still belongs in the
        # result; widening the filter by 1e-6 keeps the superset lossless
        # for every pair the rounded threshold can admit
        .where(F.col("sfx2") >= (tau - 1e-6) * (tau - 1e-6))
        .select("doc_id", "word")
    )


@register("sim_sparse_cosine", oracle=SIM_SPARSE_COSINE_ORACLE, tier="B")
def sim_sparse_cosine(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = _SPARSE_TAU,
    strategy: str = "auto",
) -> DataFrame:
    """EXACT tf-idf cosine similarity pairs above ``threshold`` —
    dense-embedding-free retrieval/dedup (the BM25-family geometry):
    weight w(d,t) = tf·ln((N+1)/(df+1)) (the text_tfidf formula), cosine =
    Σ w_a·w_b / (‖a‖‖b‖). VOCABULARY-ADAPTIVE execution, same results
    either way (tests/test_staged_r10.py asserts path equality):

    - ``postings`` — the PREFIX-FILTERED sparse inverted-index join
      (Bayardo et al. AllPairs, WWW'07): terms take a global rarest-first
      order (df ASC, word); a posting is indexed only while its document's
      unit-vector SUFFIX norm from that position is ≥ τ. For any pair with
      cosine ≥ τ, the first shared term t (global order) has
      dot ≤ ‖a_suffix(t)‖·‖b_suffix(t)‖, so both suffix norms are ≥ τ and
      both postings are indexed — candidates are a lossless superset,
      verified with the exact full-vector cosine. Hub terms (df → N) have
      near-zero idf weight, sort LAST, and their suffix norm is < τ in any
      document with real content — so the 10⁶-doc hub that fanned the
      unfiltered join into ~10¹² pairs (the r9 verdict's flagged
      scale-killer) generates ZERO candidates. Still QUADRATIC on this
      fixture's dense 31-word vocabulary where every true cosine ≈ 1
      (output itself is near-quadratic there — irreducible), which is why
      ``auto`` picks gemm for it.
    - ``gemm`` — when the ACTIVE vocabulary fits a dense row
      (≤ ``_DENSE_VOCAB_MAX``): broadcast the (term → index, idf) table
      (bounded quantizer-class metadata, the IVF-centroid convention),
      densify each doc's normalized tf-idf vector in one mapInPandas
      pass, and run the sim_topk_cosine block-grid threshold kernel
      (similarity.py:67) — BLAS does Σ df² as n²·|V| FLOPs instead of
      join rows: 167 s → ~2 s at sf0.1. This is the production answer for
      head-heavy corpora; ``auto`` (default) picks by measuring |V|.

    The threshold compares the 6-dp ROUNDED cosine so the boundary set is
    identical cross-engine (the dedup_embedding convention); dots/norms
    carry ~1e-15 association noise between the paths and the engines,
    absorbed by the round."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    df_ = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    if strategy == "auto":
        strategy = "gemm" if df_.count() <= _DENSE_VOCAB_MAX else "postings"
    if strategy == "gemm":
        return _sparse_cosine_gemm(spark, sf_dir, df_, n, threshold)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    w = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    sfx = sparse_prefix_postings(w, df_, nrm, threshold)
    cand = (
        sfx.select(F.col("doc_id").alias("doc_id_a"), "word")
        .join(sfx.select(F.col("doc_id").alias("doc_id_b"), "word"), "word")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    # exact verify: full-vector dot restricted to the candidate superset —
    # the arithmetic is IDENTICAL to the unfiltered join's, so the output
    # (and the unchanged brute-force oracle) is unaffected by the filter
    a = w.select(F.col("doc_id").alias("doc_id_a"), "word", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_id_b"), "word", F.col("w").alias("wb"))
    dots = (
        cand.join(a, "doc_id_a")
        .join(b, ["doc_id_b", "word"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_id_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "doc_id_a")
        .join(F.broadcast(nb), "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _sparse_cosine_gemm(
    spark: SparkSession, sf_dir: str, df_: DataFrame, n: DataFrame, threshold: float
) -> DataFrame:
    """GEMM path of :func:`sim_sparse_cosine`: densify normalized tf-idf
    rows over the broadcast vocabulary, then the block-grid threshold
    kernel (the similarity.grid_pair_sims_above structure on derived
    vectors instead of the embeddings table)."""
    import math

    import numpy as np
    import pandas as pd

    from .similarity import N_GRID, round_half_up

    n_docs = n.collect()[0][0]  # 1-row aggregate
    vocab = {
        r.word: (i, math.log((n_docs + 1.0) / (r.df + 1.0)))
        for i, r in enumerate(df_.orderBy("word").collect())  # bounded ≤ 4096
    }
    bvocab = spark.sparkContext.broadcast(vocab)
    dim = len(vocab)

    def densify(batches):
        from collections import Counter

        v = bvocab.value
        for pdf in batches:
            vecs = []
            for text in pdf["text"]:
                x = np.zeros(dim)
                for t, c in Counter(text.split(" ")).items():
                    e = v.get(t)
                    if e is not None:
                        x[e[0]] = c * e[1]
                nn = np.linalg.norm(x)
                vecs.append(x / nn if nn else x)
            yield pd.DataFrame({"vec_id": pdf["doc_id"], "embedding": vecs})

    vdf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(densify, "vec_id long, embedding array<double>")
    )
    blk = (F.col("vec_id") % N_GRID).cast("int")
    with_blk = vdf.withColumn("blk", blk)
    side_a = with_blk.select(
        "vec_id",
        "embedding",
        F.col("blk").alias("i"),
        F.explode(F.sequence(F.col("blk"), F.lit(N_GRID - 1))).alias("j"),
        F.lit("a").alias("side"),
    )
    side_b = with_blk.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("i"),
        F.col("blk").alias("j"),
        F.lit("b").alias("side"),
    )
    both = side_a.unionByName(side_b)

    def block_threshold(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        empty = pd.DataFrame({"doc_id_a": [], "doc_id_b": [], "cosine": []})
        if a.empty or b.empty:
            return empty
        A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        S = round_half_up(A @ B.T)
        ida = a["vec_id"].to_numpy()
        idb = b["vec_id"].to_numpy()
        if pdf["i"].iloc[0] == pdf["j"].iloc[0]:
            valid = (ida[:, None] < idb[None, :]) & (S >= threshold)
        else:
            valid = S >= threshold
        ii, jj = np.nonzero(valid)
        if ii.size == 0:
            return empty
        return pd.DataFrame(
            {
                "doc_id_a": np.minimum(ida[ii], idb[jj]),
                "doc_id_b": np.maximum(ida[ii], idb[jj]),
                "cosine": S[ii, jj],
            }
        )

    return both.groupBy("i", "j").applyInPandas(
        block_threshold, schema="doc_id_a long, doc_id_b long, cosine double"
    )


# --- per-document n-gram novelty ---------------------------------------------

_NOVELTY_K = 5

TEXT_NGRAM_NOVELTY_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "sh AS ("
    "  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS h"
    "  FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS g(i)"
    "), dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h) "
    "SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams, "
    "CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, "
    "round(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6)"
    " AS novelty "
    "FROM sh JOIN dfreq USING (h) GROUP BY sh.doc_id"
)


@register("text_ngram_novelty", oracle=TEXT_NGRAM_NOVELTY_ORACLE, tier="B")
def text_ngram_novelty(
    spark: SparkSession, sf_dir: str, k: int = _NOVELTY_K
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's DISTINCT ``k``-gram
    set that occurs in NO other document — the originality signal training
    pipelines use to downweight boilerplate-heavy documents and flag
    memorization risk (a doc whose 5-grams all recur elsewhere adds little;
    one that is all-novel is either fresh signal or noise). Complementary
    to dedup_spans, which registers the duplicated spans themselves.

    Counting DISTINCT grams per doc (not occurrences) makes the metric a
    set property: df = 1 means the gram's only home is this doc. Docs
    shorter than ``k`` tokens contribute no grams and emit no row (the
    sequence-descends guard, staged_r9._span_hashes).

    Scale: explode → md5 → two map-side-combining aggregates on the gram
    hash, linear in corpus token count; the doc↔gram join rides the same
    hash shuffle. Exact integers until one division."""
    from .staged_r9 import _span_hashes

    d = load_table(spark, sf_dir, "documents")
    # the shared shingle stream (size guard + slice/concat_ws/md5) — one
    # definition, not a hand-synced inline copy (r8 review finding 9);
    # .distinct() turns occurrences into the per-doc gram SET
    sh = _span_hashes(d, k).distinct()
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / (1.0 * F.count("*")),
                6,
            ).alias("novelty"),
        )
    )


# --- exact ROC AUC ------------------------------------------------------------

_AUC_POS = "purchase"  # label: event_type == 'purchase'; score: value

STAT_AUC_ORACLE = (
    "WITH pts AS ("
    "  SELECT value AS v,"
    f"    count(*) FILTER (event_type = '{_AUC_POS}') AS c1,"
    f"    count(*) FILTER (event_type <> '{_AUC_POS}') AS c0"
    "  FROM events GROUP BY value"
    "), r AS ("
    "  SELECT c1, c0, c1 + c0 AS c,"
    "    coalesce(sum(c1 + c0) OVER (ORDER BY v"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s"
    "  FROM pts"
    "), t AS ("
    "  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0,"
    "    sum(CAST(c1 AS HUGEINT) * (2 * s + c + 1)) AS r2x"
    "  FROM r"
    ") SELECT n1 AS n_pos, n0 AS n_neg, "
    "round(CAST(r2x - n1 * (CAST(n1 AS HUGEINT) + 1) AS DOUBLE) / 2.0 "
    "/ nullif(CAST(n1 AS DOUBLE) * n0, 0), 6) AS auc "
    "FROM t WHERE n1 IS NOT NULL OR n0 IS NOT NULL"
)


@register("stat_auc", oracle=STAT_AUC_ORACLE, tier="C")
def stat_auc(
    spark: SparkSession, sf_dir: str, pos_type: str = _AUC_POS
) -> DataFrame:
    """Exact ROC AUC of ``value`` as a score for the binary label
    ``event_type == pos_type`` — THE ranking-quality metric for quality
    scorers, dedup classifiers, and reward models. Computed via the
    rank-sum identity AUC = (Σ_pos midrank − n₁(n₁+1)/2) / (n₁·n₀), which
    handles ties exactly (a tied group [s+1..s+c] contributes c₁·(2s+c+1)/2
    to the doubled rank sum) — equivalently P(score⁺ > score⁻) +
    ½P(score⁺ = score⁻).

    NO global sort: scores group by exact value once, then the bucketed
    distributed prefix-sum (floor(v) buckets; the stat_ks_test /
    stat_mann_whitney machinery) produces every exclusive cumulative count
    with one value shuffle plus a bucket-count-sized broadcast. The rank
    mass accumulates in decimal(38) (≈2n² for the pooled corpus — past
    int64 by ~10⁹ rows). One double division at the end, 6 dp;
    ``try_divide`` + the null-row filter give the single-class and empty
    corpora zero rows like the oracle."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("event_type") == pos_type, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") != pos_type, 1).otherwise(0)).alias("c0"),
        )
        .withColumn("c", F.col("c1") + F.col("c0"))
        .withColumn("bucket", F.floor("v").cast("long"))
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pts.select(
        "bucket",
        "c1",
        "c0",
        "c",
        F.coalesce(F.sum("c").over(w_local), F.lit(0)).alias("s_local"),
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = F.broadcast(
        pts.groupBy("bucket")
        .agg(F.sum("c").alias("tc"))
        .select(
            "bucket",
            F.coalesce(F.sum("tc").over(w_bucket), F.lit(0)).alias("off"),
        )
    )
    d38 = "decimal(38,0)"
    t = (
        local.join(offsets, "bucket")
        .withColumn("s", F.col("off") + F.col("s_local"))
        .agg(
            F.sum("c1").cast("long").alias("n1"),
            F.sum("c0").cast("long").alias("n0"),
            F.sum(
                F.col("c1").cast(d38) * (2 * F.col("s") + F.col("c") + 1)
            ).alias("r2x"),
        )
    )
    return t.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            F.try_divide(
                (F.col("r2x") - F.col("n1").cast(d38) * (F.col("n1") + 1)).cast(
                    "double"
                )
                / 2.0,
                F.col("n1").cast("double") * F.col("n0"),
            ),
            6,
        ).alias("auc"),
    ).where(F.col("n_pos").isNotNull() | F.col("n_neg").isNotNull())


# --- Population Stability Index ----------------------------------------------

_PSI_A, _PSI_B = "click", "view"  # baseline vs current population

STAT_PSI_ORACLE = (
    "WITH b AS ("
    "  SELECT CAST(floor(value) AS BIGINT) AS bucket,"
    f"    count(*) FILTER (event_type = '{_PSI_A}') AS ca,"
    f"    count(*) FILTER (event_type = '{_PSI_B}') AS cb"
    f"  FROM events WHERE event_type IN ('{_PSI_A}', '{_PSI_B}') GROUP BY 1"
    "), tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM b) "
    "SELECT CAST(count(*) AS BIGINT) AS n_buckets, "
    "CAST(count(*) FILTER (ca > 0 AND cb > 0) AS BIGINT) AS n_shared, "
    "round(sum(CASE WHEN cb = 0 THEN ca END) / (1.0 * tot.na), 6) AS a_excl_mass, "
    "round(sum(CASE WHEN ca = 0 THEN cb END) / (1.0 * tot.nb), 6) AS b_excl_mass, "
    "round(sum(CASE WHEN ca > 0 AND cb > 0 THEN "
    "  (ca / (1.0 * tot.na) - cb / (1.0 * tot.nb)) "
    "  * ln((ca / (1.0 * tot.na)) / (cb / (1.0 * tot.nb))) END), 6) AS psi "
    "FROM b, tot GROUP BY tot.na, tot.nb"
)


@register("stat_psi", oracle=STAT_PSI_ORACLE, tier="C")
def stat_psi(
    spark: SparkSession,
    sf_dir: str,
    type_a: str = _PSI_A,
    type_b: str = _PSI_B,
) -> DataFrame:
    """Population Stability Index between two event populations' ``value``
    distributions over integer buckets — the model-monitoring drift score
    (PSI < 0.1 stable, > 0.25 act) beside agg_drift_chi2's χ² table. PSI's
    log term is undefined where either side has zero mass, and silently
    epsilon-padding hides exactly the buckets that scream loudest — so the
    PSI sums over SHARED-support buckets only and the exclusive masses are
    reported as their own columns (the text_js_divergence decomposition).

    Exactness: bucket counts are exact int64; each shared-bucket term is a
    double expression of those integers; the term sum carries ~1e-16
    engine-order noise absorbed by the 6-dp round. Empty-corpus guard: the
    oracle's GROUP BY emits zero rows, the Spark side filters its
    degenerate all-NULL row to match (the stat_ks_test convention).

    Scale: one map-side-combining bucket aggregate (bucket cardinality ≈
    value range, ~330 here) + a 1-row total broadcast — calendar-sized
    state no matter the corpus."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.where(F.col("event_type").isin(type_a, type_b))
        .groupBy(F.floor("value").cast("long").alias("bucket"))
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("event_type") == type_b, 1).otherwise(0)).alias("cb"),
        )
    )
    tot = F.broadcast(b.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb")))
    pa = F.col("ca") / (1.0 * F.col("na"))
    pb = F.col("cb") / (1.0 * F.col("nb"))
    shared = (F.col("ca") > 0) & (F.col("cb") > 0)
    return (
        b.crossJoin(tot)
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(shared.cast("int")).cast("long").alias("n_shared"),
            F.round(
                F.sum(F.when(F.col("cb") == 0, F.col("ca"))) / (1.0 * F.first("na")),
                6,
            ).alias("a_excl_mass"),
            F.round(
                F.sum(F.when(F.col("ca") == 0, F.col("cb"))) / (1.0 * F.first("nb")),
                6,
            ).alias("b_excl_mass"),
            F.round(
                F.sum(F.when(shared, (pa - pb) * F.log(pa / pb))), 6
            ).alias("psi"),
        )
        .where(F.col("n_buckets") > 0)
    )


# --- discrete Kaplan–Meier survival ------------------------------------------

_US_PER_HOUR = 3_600_000_000
_CENSOR_US = 24 * _US_PER_HOUR  # users seen in the final 24 h may still be active

# µs-since-epoch from the nanosecond fixture timestamp (positive range, so
# truncation == floor on both engines)
_TS_US = "(epoch_ns(ts) // 1000)"

EVENT_SURVIVAL_ORACLE = (
    "WITH span AS ("
    f"  SELECT user_id,"
    f"    (max({_TS_US}) - min({_TS_US})) // {_US_PER_HOUR} AS lifetime,"
    f"    max({_TS_US}) >= (SELECT max({_TS_US}) FROM events) - {_CENSOR_US}"
    "     AS censored"
    "  FROM events GROUP BY user_id"
    "), lt AS ("
    "  SELECT lifetime AS dur,"
    "    count(*) FILTER (NOT censored) AS deaths,"
    "    count(*) AS leaving"
    "  FROM span GROUP BY lifetime"
    "), km AS ("
    "  SELECT dur, deaths,"
    "    sum(leaving) OVER (ORDER BY dur DESC) AS n_risk"
    "  FROM lt"
    "), f AS ("
    "  SELECT dur, deaths, n_risk,"
    "    1.0 - deaths / (1.0 * n_risk) AS factor"
    "  FROM km"
    ") SELECT dur AS duration_hours, CAST(n_risk AS BIGINT) AS n_risk, "
    "CAST(deaths AS BIGINT) AS n_deaths, "
    # ln argument must be NULL-safe INSIDE the window: DuckDB evaluates
    # every window expression in the SELECT before the CASE picks a branch,
    # so a bare ln(factor) raises OutOfRange the moment ANY factor is 0
    # (max-lifetime group fully uncensored) even though the min-factor CASE
    # routes those rows to the 0 branch (r8 review finding 3). Spark's
    # F.log(0) is natively NULL, so nullif keeps both engines' window sums
    # identical: the zero row contributes nothing, and every row at/after
    # it takes the CASE 0 branch anyway.
    "round(CASE WHEN min(factor) OVER (ORDER BY dur) = 0 THEN 0.0 "
    "ELSE exp(sum(ln(nullif(factor, 0))) OVER (ORDER BY dur)) END, 6) AS survival "
    "FROM f"
)


@register("event_survival", oracle=EVENT_SURVIVAL_ORACLE, tier="C")
def event_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Kaplan–Meier survival over user activity lifetimes with
    right-censoring — the retention curve done properly: a user's lifetime
    is last-active − first-active in whole HOURS (day granularity collapses
    this always-on fixture to 2 durations; hours give a real curve at every
    sf); users last seen within 24 h of the corpus' final event are
    CENSORED (they may still be alive, so they leave the risk set without
    counting as churn). S(d) = Π_{j≤d} (1 − deaths_j / n_risk_j), the
    estimator that naive retention curves (event_retention) bias by
    treating censored users as churned.

    Cross-engine exactness: deaths/n_risk are exact integers; each factor
    is one double division; the cumulative product runs as exp(Σ ln f) over
    IDENTICAL doubles in IDENTICAL dur order on both engines (bit-equal
    before the 6-dp round — the text_js_divergence log-parity precedent),
    with an explicit zero-factor cutoff because ln(0) diverges.

    Scale: one user_id shuffle for lifetimes, then ALL window work happens
    on the ~hundreds-of-rows per-duration aggregate — the global windows
    here order a duration-bounded frame (≤ corpus span in hours), not the
    event stream (the text_zipf bounded-input exemption, plan-audit
    allowlisted)."""
    from ..sources.loader import ts_us

    ev = load_table(spark, sf_dir, "events")
    us = ts_us("ts")
    corpus_end = F.broadcast(ev.agg(F.max(us).alias("end_us")))
    span = (
        ev.groupBy("user_id")
        .agg(F.min(us).alias("first_us"), F.max(us).alias("last_us"))
        .crossJoin(corpus_end)
        .select(
            # integer `div`, not float `/`+cast: the µs span is ~1e12 and a
            # double round-trip could truncate a hair below the true hour
            F.expr(f"(last_us - first_us) div {_US_PER_HOUR}").alias("lifetime"),
            (F.col("last_us") >= F.col("end_us") - _CENSOR_US).alias("censored"),
        )
    )
    lt = span.groupBy(F.col("lifetime").alias("dur")).agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("deaths"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = lt.select(
        "dur", "deaths", F.sum("leaving").over(w_desc).alias("n_risk")
    ).withColumn("factor", 1.0 - F.col("deaths") / (1.0 * F.col("n_risk")))
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return km.select(
        F.col("dur").alias("duration_hours"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("deaths").cast("long").alias("n_deaths"),
        F.round(
            F.when(F.min("factor").over(w_asc) == 0, F.lit(0.0)).otherwise(
                F.exp(F.sum(F.log("factor")).over(w_asc))
            ),
            6,
        ).alias("survival"),
    )


# --- CUPED variance-reduced A/B read-out -------------------------------------

_CUPED_SPLIT_DOM = 16  # pre-period: day-of-month < 16; post-period: >= 16

_DOM = "dayofmonth(CAST(date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) AS DATE))"

EVENT_AB_CUPED_ORACLE = (
    "WITH per_user AS ("
    "  SELECT user_id, user_id % 2 AS variant, "
    f"    sum(CASE WHEN event_type = 'purchase' AND {_DOM} < {_CUPED_SPLIT_DOM} "
    f"        THEN {money_cents_sql('value')} ELSE 0 END) AS x, "
    f"    sum(CASE WHEN event_type = 'purchase' AND {_DOM} >= {_CUPED_SPLIT_DOM} "
    f"        THEN {money_cents_sql('value')} ELSE 0 END) AS y"
    "  FROM events GROUP BY user_id"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    "    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy, "
    "    sum(CAST(x AS HUGEINT) * x) AS sxx, "
    "    sum(CAST(y AS HUGEINT) * y) AS syy, "
    "    sum(CAST(x AS HUGEINT) * y) AS sxy"
    "  FROM per_user"
    "), arm AS ("
    "  SELECT variant, CAST(count(*) AS BIGINT) AS n_arm, "
    "    sum(CAST(x AS HUGEINT)) AS sx_arm, sum(CAST(y AS HUGEINT)) AS sy_arm"
    "  FROM per_user GROUP BY variant"
    "), th AS ("
    "  SELECT CAST(n * sxy - sx * sy AS DOUBLE) "
    "       / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS theta, "
    "    CAST(sx AS DOUBLE) / n AS xbar, "
    "    (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)) "
    "    / nullif(CAST(n * sxx - sx * sx AS DOUBLE) "
    "             * CAST(n * syy - sy * sy AS DOUBLE), 0) AS rho2"
    "  FROM s"
    ") SELECT "
    "CAST(c.n_arm AS BIGINT) AS n_control, CAST(t.n_arm AS BIGINT) AS n_treat, "
    "round(th.theta, 6) AS theta, "
    "round(th.rho2, 6) AS rho2, "
    "round((CAST(t.sy_arm AS DOUBLE) / t.n_arm - CAST(c.sy_arm AS DOUBLE) / c.n_arm)"
    " / 100.0, 6) AS diff_raw, "
    "round(((CAST(t.sy_arm AS DOUBLE) / t.n_arm "
    "        - th.theta * (CAST(t.sx_arm AS DOUBLE) / t.n_arm - th.xbar)) "
    "     - (CAST(c.sy_arm AS DOUBLE) / c.n_arm "
    "        - th.theta * (CAST(c.sx_arm AS DOUBLE) / c.n_arm - th.xbar)))"
    " / 100.0, 6) AS diff_cuped "
    "FROM th, arm c, arm t WHERE c.variant = 0 AND t.variant = 1"
)


@register("event_ab_cuped", oracle=EVENT_AB_CUPED_ORACLE, tier="C")
def event_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B read-out (Deng et al., WSDM 2013) beside
    :func:`.staged_r8.event_ab_test`'s raw z-test: per user, X = pre-period
    purchase revenue (day-of-month < 16, integer cents) is the covariate
    and Y = post-period revenue the metric; θ = cov(X,Y)/var(X) fitted on
    the POOLED population (arm-independent, so the adjustment is unbiased),
    and each arm's adjusted mean is ȳ − θ(x̄ − x̄_pool). Reports the raw
    and CUPED-adjusted treatment−control differences plus ρ² (the variance
    fraction CUPED removes — the whole point: 1−ρ² is the sample-size
    multiplier you no longer need).

    Arms are user_id parity (event_ab_test's deterministic split).
    Exactness: every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) is an
    exact decimal(38)/HUGEINT integer in cents; θ, ρ², x̄ and both diffs
    are single double expressions over those integers, 6 dp (÷100 back to
    currency units). Scale: one user_id shuffle, then 1-row/arm-count
    aggregates — the stat_linreg shape."""
    ev = load_table(spark, sf_dir, "events")
    dom = F.dayofmonth(F.date_trunc("day", F.col("ts").cast("timestamp")))
    is_purch = F.col("event_type") == "purchase"
    cents = money_cents(F.col("value"))
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(is_purch & (dom < _CUPED_SPLIT_DOM), cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(is_purch & (dom >= _CUPED_SPLIT_DOM), cents).otherwise(0)
        ).alias("y"),
    ).withColumn("variant", F.col("user_id") % 2)
    d38 = "decimal(38,0)"
    s = F.broadcast(
        per_user.agg(
            F.count("*").cast(d38).alias("n"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y").cast(d38)).alias("sy"),
            F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
            F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        )
    )
    arm = per_user.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_arm"),
        F.sum(F.col("x").cast(d38)).alias("sx_arm"),
        F.sum(F.col("y").cast(d38)).alias("sy_arm"),
    )
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx_n = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary_n = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    th = s.select(
        F.try_divide(cov_n, varx_n).alias("theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("xbar"),
        F.try_divide(cov_n * cov_n, varx_n * vary_n).alias("rho2"),
    )
    c = arm.where(F.col("variant") == 0).select(
        F.col("n_arm").alias("n_control"),
        F.col("sx_arm").alias("sx_c"),
        F.col("sy_arm").alias("sy_c"),
    )
    t = arm.where(F.col("variant") == 1).select(
        F.col("n_arm").alias("n_treat"),
        F.col("sx_arm").alias("sx_t"),
        F.col("sy_arm").alias("sy_t"),
    )
    ybar_t = F.col("sy_t").cast("double") / F.col("n_treat")
    ybar_c = F.col("sy_c").cast("double") / F.col("n_control")
    xbar_t = F.col("sx_t").cast("double") / F.col("n_treat")
    xbar_c = F.col("sx_c").cast("double") / F.col("n_control")
    return (
        c.crossJoin(t)
        .crossJoin(F.broadcast(th))
        .select(
            "n_control",
            "n_treat",
            F.round(F.col("theta"), 6).alias("theta"),
            F.round("rho2", 6).alias("rho2"),
            F.round((ybar_t - ybar_c) / 100.0, 6).alias("diff_raw"),
            F.round(
                (
                    (ybar_t - F.col("theta") * (xbar_t - F.col("xbar")))
                    - (ybar_c - F.col("theta") * (xbar_c - F.col("xbar")))
                )
                / 100.0,
                6,
            ).alias("diff_cuped"),
        )
    )


# --- deterministic bootstrap confidence interval ------------------------------

_CI_B = 32  # replicates; multiplicities replay from md5(event_id:ci:<b>)


def _pois1_case_sql() -> str:
    """Poisson(1) inverse-CDF CASE over a hash-uniform ``u`` — identical
    literals to curation_ext's sample_bootstrap (single source of truth)."""
    from .curation_ext import _POIS1_CDF

    return (
        "CASE "
        + " ".join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS1_CDF))
        + " ELSE 6 END"
    )


STAT_BOOTSTRAP_CI_ORACLE = (
    "WITH base AS ("
    f"  SELECT event_id, {money_cents_sql('value')} AS cents"
    "  FROM events WHERE event_type = 'purchase'"
    "), rep AS ("
    f"  SELECT b, CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':ci:' "
    "|| CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u, cents"
    f"  FROM base CROSS JOIN range(0, {_CI_B}) r(b)"
    "), m AS ("
    f"  SELECT b, {_pois1_case_sql()} AS mult, cents FROM rep"
    "), means AS ("
    "  SELECT b, CAST(sum(mult * CAST(cents AS HUGEINT)) AS DOUBLE) "
    "       / nullif(sum(mult), 0) / 100.0 AS mean_b"
    "  FROM m GROUP BY b"
    ") SELECT "
    "CAST((SELECT count(*) FROM base) AS BIGINT) AS n_rows, "
    f"CAST({_CI_B} AS INTEGER) AS n_replicates, "
    "round((SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / count(*) / 100.0 "
    "FROM base), 6) AS mean, "
    "round(quantile_cont(mean_b, 0.025), 6) AS ci_lo, "
    "round(quantile_cont(mean_b, 0.975), 6) AS ci_hi "
    "FROM means"
)


@register("stat_bootstrap_ci", oracle=STAT_BOOTSTRAP_CI_ORACLE, tier="C")
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% confidence interval for the mean
    purchase value — distributed uncertainty quantification (Chamandy et
    al. 2012): ``_CI_B``=32 replicates, each row's multiplicity in
    replicate b drawn Poisson(1) by inverse-CDF over the hash-uniform
    md5(event_id:ci:b) (sample_bootstrap's replayable-randomness device,
    extended to a replicate axis). Replicate means are exact-integer cent
    sums divided once; the 2.5%/97.5% interpolated percentiles over the 32
    identical doubles match DuckDB's quantile_cont (the agg_percentile
    parity precedent).

    Scale: the explode is a flat ×B map (no shuffle until the B-group
    combine); replicate state is B counters per partition — at 100 TB you
    keep B·partitions integers, never a resample copy of the data. The
    percentile runs over B=32 rows."""
    case = _pois1_case_sql()
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type") == "purchase").select(
        "event_id", money_cents(F.col("value")).alias("cents")
    )
    rep = base.select(
        "event_id", "cents", F.explode(F.sequence(F.lit(0), F.lit(_CI_B - 1))).alias("b")
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":ci:"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / 4294967296.0,
    )
    d38 = "decimal(38,0)"
    means = (
        rep.withColumn("mult", F.expr(case))
        .groupBy("b")
        .agg(
            (
                F.try_divide(
                    F.sum(F.col("mult").cast(d38) * F.col("cents")).cast("double"),
                    F.sum("mult"),
                )
                / 100.0
            ).alias("mean_b")
        )
    )
    point = base.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(
            F.try_divide(F.sum(F.col("cents").cast(d38)).cast("double"), F.count("*"))
            / 100.0,
            6,
        ).alias("mean"),
    )
    # Aggregate the replicate means to ONE row first, then attach the
    # 1-row point estimates: the previous crossJoin(means, point).agg
    # extracted n_rows with F.first, which over an EMPTY means table (no
    # purchase rows) yields NULL where the oracle's scalar count subquery
    # yields 0 (r8 review finding 1) — a global agg on each side emits its
    # row unconditionally, so the degenerate corpus matches too.
    ci = means.agg(
        F.round(F.percentile("mean_b", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("mean_b", F.lit(0.975)), 6).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(_CI_B).cast("int").alias("n_replicates"),
        "mean",
        "ci_lo",
        "ci_hi",
    )


# --- partitioned-file ingest census ------------------------------------------

SCAN_FILE_STATS_ORACLE = (
    "SELECT o_orderstatus, CAST(1 AS BIGINT) AS n_files, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(min(o_orderkey) AS BIGINT) AS min_key, "
    "CAST(max(o_orderkey) AS BIGINT) AS max_key, "
    f"CAST(sum({money_cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents "
    "FROM orders GROUP BY o_orderstatus"
)


@register("scan_file_stats", oracle=SCAN_FILE_STATS_ORACLE, tier="B")
def scan_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition-file ingest census over a REAL hive-partitioned
    parquet round trip — the observability scan behind small-files/skew
    triage: write ``orders`` partitioned by ``o_orderstatus`` (repartitioned
    by the key first, so exactly one file per partition directory —
    deterministic, which also makes n_files oracle-able), read the
    directory back, and report per partition-value the file count, row
    count, key range, and exact-cents revenue — all parsed from the files
    themselves plus ``input_file_name()``, so a corrupted or dropped file
    shows up as a row/revenue mismatch against the source-table oracle.

    Scale: this IS the pattern for auditing a 100 TB lake ingest — the
    census aggregates per (partition value, file), moving only counters;
    file names ride the scan for free (no extra I/O). Staging note: the
    write is a single-process demo device (scan_binary_files' convention);
    on a cluster the partitioned table already exists and ONLY the read +
    census below is the operator."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_filestats_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    # one file per partition dir: repartition BY THE PARTITION KEY first
    (
        o.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(stage)
    )
    # explicit schema: no inference pass, and an empty partitioned write
    # (zero partition dirs) reads back typed-empty (relational.py convention)
    back = spark.read.schema(o.schema).parquet(stage).withColumn(
        "file", F.input_file_name()
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("file").alias("n_files"),
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum(money_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
    )


# --- PNG header metadata (codec-free multimodal) ------------------------------

# Minimal valid-layout PNG: 8-byte signature, IHDR chunk (len=13, type,
# 13 data bytes, 4 CRC bytes we zero — we parse, never decode), IEND.
_PNG_SIG_HEX = "89504E470D0A1A0A"
_PNG_TOTAL_BYTES = 8 + (4 + 4 + 13 + 4) + (4 + 4 + 4)  # 45

MM_PNG_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(16 + n_chars % 624 AS BIGINT) AS width, "
    "CAST(16 + (doc_id * 37) % 464 AS BIGINT) AS height, "
    "CAST(8 AS BIGINT) AS bit_depth, "
    f"CAST({_PNG_TOTAL_BYTES} AS BIGINT) AS n_bytes, "
    "TRUE AS valid_sig "
    "FROM documents WHERE doc_id < 40"
)


@register("mm_png_meta", oracle=MM_PNG_META_ORACLE, tier="B")
def mm_png_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata (width/height/bit depth) extracted from REAL PNG
    bytes ENTIRELY JVM-side — substring/hex/conv byte arithmetic on the
    BinaryType content column, no Python UDF and no image codec: the PNG
    container puts IHDR first, so width = big-endian uint32 at bytes
    17–20, height at 21–24, bit depth at byte 25 — metadata extraction at
    100 TB should never decode pixels (and codec-free header parsing is
    how real lakes triage mixed image dumps before any GPU touches them).

    40 deterministic PNG files are staged from the documents table (width
    from n_chars, height from doc_id — so the ORACLE derives every field
    from the source table and any staging/scan corruption fails the hash);
    signature validity is checked against the 8-byte PNG magic. The CRCs
    are zeroed: this op parses structure, it does not validate payloads —
    mm_binary_surface's decode stub remains the (documented) codec
    boundary.

    Scale: binaryFile scan parallelizes per file; only 4-byte slices of
    each blob feed the projection, and nothing but scalars shuffles."""
    import hashlib
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select("doc_id", "n_chars")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_png_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 40 bounded fixture rows — staging only
        width = 16 + r.n_chars % 624
        height = 16 + (r.doc_id * 37) % 464
        ihdr_data = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
        png = (
            bytes.fromhex(_PNG_SIG_HEX)
            + struct.pack(">I", 13) + b"IHDR" + ihdr_data + b"\x00" * 4
            + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
        )
        assert len(png) == _PNG_TOTAL_BYTES
        with open(f"{stage}/{r.doc_id}.png", "wb") as f:
            f.write(png)
    if not os.listdir(stage):
        # empty corpus staged zero blobs: typed empty frame instead of a
        # PATH_NOT_FOUND on the glob (empty-corpus sweep, round 7)
        return spark.createDataFrame(
            [],
            "doc_id long, width long, height long, bit_depth long, "
            "n_bytes long, valid_sig boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.png")

    def be32(pos: int):  # big-endian uint32 at 1-based byte offset
        return F.conv(F.hex(F.substring("content", pos, 4)), 16, 10).cast("long")

    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.png$", 1).cast("long").alias("doc_id"),
        be32(17).alias("width"),
        be32(21).alias("height"),
        F.conv(F.hex(F.substring("content", 25, 1)), 16, 10)
        .cast("long")
        .alias("bit_depth"),
        F.col("length").alias("n_bytes"),
        (F.hex(F.substring("content", 1, 8)) == _PNG_SIG_HEX).alias("valid_sig"),
    )


# --- syllable-proxy readability ----------------------------------------------

TEXT_READABILITY_ORACLE = (
    "WITH words AS ("
    "  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents"
    "), syl AS ("
    "  SELECT lang, len(regexp_extract_all(w, '[aeiou]+')) AS s FROM words"
    ") SELECT lang, CAST(count(*) AS BIGINT) AS n_words, "
    "CAST(sum(s) AS BIGINT) AS n_syllables, "
    "round(sum(s) / (1.0 * count(*)), 6) AS syll_per_word, "
    "round(sum(CASE WHEN s >= 3 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6)"
    " AS long_word_rate, "
    "round(206.835 - 84.6 * (sum(s) / (1.0 * count(*))), 6) AS flesch_proxy "
    "FROM syl GROUP BY lang"
)


@register("text_readability", oracle=TEXT_READABILITY_ORACLE, tier="B")
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syllable-proxy readability per language: syllables ≈ maximal vowel
    groups per word (the standard no-dictionary proxy), mean syllables per
    word, the ≥3-group long-word rate, and a Flesch-style score
    206.835 − 84.6·(syll/word) — the words-per-sentence term is DROPPED
    because this corpus has no sentence punctuation (documented estimator
    restriction, not an approximation of it). Readability gates are a
    cheap quality signal riding the same scan as text_quality.

    Exactness: vowel-group counts are exact integers from the same regex
    on both engines (ASCII corpus); two divisions + one affine map at the
    end, 6 dp. Scale: one explode + one map-side-combining lang aggregate —
    wordcount-shaped, linear."""
    words = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    syl = words.select("lang", F.regexp_count("w", F.lit("[aeiou]+")).alias("s"))
    spw = F.sum("s") / (1.0 * F.count("*"))
    return syl.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum("s").cast("long").alias("n_syllables"),
        F.round(spw, 6).alias("syll_per_word"),
        F.round(
            F.sum(F.when(F.col("s") >= 3, 1).otherwise(0)) / (1.0 * F.count("*")), 6
        ).alias("long_word_rate"),
        F.round(206.835 - 84.6 * spw, 6).alias("flesch_proxy"),
    )


# --- BPE merge training (2 unrolled iterations) -------------------------------

def _bpe_pair_sql(src: str) -> str:
    """DuckDB: weighted adjacent-symbol-pair counts over CTE ``src``
    (word, freq, syms)."""
    return (
        "SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM ("
        "  SELECT freq, unnest(list_transform(range(1, len(syms)), "
        "  i -> [syms[CAST(i AS INT)], syms[CAST(i AS INT) + 1]])) AS pr"
        f"  FROM {src}) GROUP BY 1, 2"
    )


def _bpe_merge_sql(src: str, best: str) -> str:
    """DuckDB: ``src`` with the ``best`` (a, b) pair merged left-to-right,
    non-overlapping (the list-accumulator fold; slice ends are INCLUSIVE in
    DuckDB, hence [:-2] to drop the last element)."""
    return (
        f"SELECT word, freq, list_reduce(list_transform({src}.syms, x -> [x]), "
        f"  (acc, x) -> CASE WHEN acc[-1] = {best}.a AND x[1] = {best}.b "
        f"  THEN list_append(acc[:-2], {best}.a || {best}.b) "
        f"  ELSE list_concat(acc, x) END) AS syms "
        f"FROM {src}, {best}"
    )


TEXT_BPE_TRAIN_ORACLE = (
    "WITH wc AS ("
    "  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ("
    "    SELECT unnest(string_split(text, ' ')) AS word FROM documents"
    "  ) GROUP BY word"
    "), s0 AS (SELECT word, freq, string_split(word, '') AS syms FROM wc), "
    f"p1 AS ({_bpe_pair_sql('s0')}), "
    "b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1), "
    f"s1 AS ({_bpe_merge_sql('s0', 'b1')}), "
    f"p2 AS ({_bpe_pair_sql('s1')}), "
    "b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1), "
    f"s2 AS ({_bpe_merge_sql('s1', 'b2')}), "
    "v1 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS vs FROM "
    "  (SELECT unnest(syms) AS s FROM s1)), "
    "v2 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS vs FROM "
    "  (SELECT unnest(syms) AS s FROM s2)) "
    "SELECT CAST(1 AS INTEGER) AS it, b1.a AS merge_a, b1.b AS merge_b, "
    "b1.cnt AS pair_count, v1.vs AS vocab_size FROM b1, v1 "
    "UNION ALL SELECT CAST(2 AS INTEGER), b2.a, b2.b, b2.cnt, v2.vs FROM b2, v2"
)


@register("text_bpe_train", oracle=TEXT_BPE_TRAIN_ORACLE, tier="B")
def text_bpe_train(spark: SparkSession, sf_dir: str, iters: int = 2) -> DataFrame:
    """The tokenizer-training core loop, exact and cross-engine verifiable:
    ``iters``=2 greedy BPE merges (Sennrich et al. 2016) over the corpus
    word frequencies — each iteration counts adjacent symbol pairs weighted
    by word frequency, picks the max-count pair (count DESC, then
    lexicographic — an integer-only, engine-identical argmax), and merges
    it left-to-right non-overlapping in every word. Emits per iteration the
    chosen merge rule, its count, and the symbol-vocabulary size after the
    merge — text_bpe_pairs registers the single pair-count step; this is
    the LOOP that consumes it.

    The merge is an array fold (aggregate over the symbol array carrying
    the merged prefix), not a string replace — substring replace corrupts
    merges whose text abuts neighboring symbols ("za b" contains "a b"),
    and left-to-right non-overlap falls out of the fold for free ("a a a"
    with merge (a,a) → ["aa", "a"], never ["aa", "aa"]). The DuckDB oracle
    states the identical fold via list_reduce.

    Scale: each iteration is one explode + one map-side-combining pair
    aggregate over the VOCABULARY (word-distinct, not corpus-sized — the
    standard BPE-training reduction), and the argmax collect is a 1-row
    bounded metadata fetch (the IVF-centroid convention). Real tokenizer
    training runs 30–50k iterations of exactly this step with the pair
    counts kept incrementally; the unrolled form here is the verifiable
    spec of one step."""
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # each iteration fires 2 driver actions (argmax, vocab count) and the
    # next iteration reads the merged table again — persist the current
    # symbol state so upstream (the corpus wordcount + all prior merges)
    # runs once per iteration, not once per action (measured 8.1 s → ~4 s
    # at sf0.1); every kept frame is released on exit
    out_rows = []
    with persisting() as keep:
        syms = keep(wc.select("word", "freq", F.split("word", "").alias("syms")))
        for it in range(1, iters + 1):
            pairs = (
                syms.where(F.size("syms") >= 2)  # sequence-descends guard
                .select(
                    "freq",
                    F.explode(
                        F.expr(
                            "transform(sequence(0, size(syms) - 2), "
                            "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                        )
                    ).alias("pr"),
                )
                .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
                .agg(F.sum("freq").alias("cnt"))
            )
            top = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
            if not top:
                # no adjacent pairs anywhere (empty or single-char corpus):
                # no merges exist — emit the rows learned so far
                break
            best = top[0]
            a_lit, b_lit, merged = best.a, best.b, best.a + best.b

            def _q(s: str) -> str:
                # SQL-literal-safe interpolation: corpus symbols can contain
                # quotes/backslashes (don't, paths), and splicing them raw
                # into F.expr is a parse error or a wrong compare (r8 review
                # finding 5)
                return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

            merge_expr = F.expr(
                "aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]), "
                f"(acc, x) -> IF(element_at(acc, -1) = {_q(a_lit)} AND x = {_q(b_lit)}, "
                f"concat(slice(acc, 1, size(acc) - 1), array({_q(merged)})), "
                "concat(acc, array(x))))"
            )
            syms = keep(syms.select("word", "freq", merge_expr.alias("syms")))
            vocab_size = (
                syms.select(F.explode("syms").alias("s")).agg(
                    F.countDistinct("s")
                ).collect()[0][0]
            )
            out_rows.append((it, a_lit, b_lit, int(best.cnt), int(vocab_size)))
    return spark.createDataFrame(
        out_rows,
        "it int, merge_a string, merge_b string, pair_count long, vocab_size long",
    )


# --- score calibration curve --------------------------------------------------

_CAL_BINS = 10

STAT_CALIBRATION_ORACLE = (
    "WITH lab AS ("
    "  SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y"
    "  FROM events"
    "), mm AS (SELECT min(v) AS lo, max(v) AS hi FROM lab), "
    "binned AS ("
    # hi = lo (constant score / single row) => zero bin width: everything
    # lands in bin 0 on BOTH engines instead of a divide-by-zero/inf cast
    f"  SELECT CASE WHEN mm.hi = mm.lo THEN 0 ELSE "
    f"  least(CAST(floor((v - mm.lo) / ((mm.hi - mm.lo) / {_CAL_BINS})) "
    f"  AS BIGINT), {_CAL_BINS - 1}) END AS bin, v, y FROM lab, mm"
    ") SELECT bin, CAST(count(*) AS BIGINT) AS n, "
    "round(avg(v), 6) AS mean_score, "
    "round(sum(y) / (1.0 * count(*)), 6) AS pos_rate "
    "FROM binned GROUP BY bin"
)


@register("stat_calibration", oracle=STAT_CALIBRATION_ORACLE, tier="C")
def stat_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table for ``value`` as a score predicting
    ``event_type = 'purchase'``: ``_CAL_BINS`` equal-width score bins, each
    with its count, mean score, and observed positive rate — the
    calibration read-out beside :func:`stat_auc`'s ranking read-out (a
    scorer can rank perfectly and still be mis-calibrated; data-curation
    quality scorers get thresholded, so calibration is what makes the
    threshold mean something).

    Bin edges are (hi−lo)/K of the OBSERVED range: both engines compute the
    identical doubles from identical inputs, so bucket assignment — and
    therefore every count — is deterministic cross-engine (the fixed-width
    histogram convention of agg_hist). The top edge folds into the last
    bin via least(). Exactness: counts exact; mean/rate rounded at 6 dp.

    Scale: one 2-value broadcast (min/max) + one map-side-combining bin
    aggregate — K-row output, wordcount-shaped."""
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    mm = F.broadcast(lab.agg(F.min("v").alias("lo"), F.max("v").alias("hi")))
    width = (F.col("hi") - F.col("lo")) / _CAL_BINS
    return (
        lab.crossJoin(mm)
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
            .otherwise(
                F.least(
                    F.floor((F.col("v") - F.col("lo")) / width).cast("long"),
                    F.lit(_CAL_BINS - 1).cast("long"),
                )
            )
            .alias("bin"),
            "v",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("v"), 6).alias("mean_score"),
            F.round(F.sum("y") / (1.0 * F.count("*")), 6).alias("pos_rate"),
        )
    )


# --- duplicate-graph degree statistics ---------------------------------------

from .staged_r9 import SPAN_EDGES_ORACLE_CTES as _SPAN_EDGES_CTES

GRAPH_DEGREE_STATS_ORACLE = (
    # edge set = the shared capped derivation (staged_r9._span_edges /
    # SPAN_EDGES_ORACLE_CTES) — previously an UNCAPPED span self-join,
    # which was hub-quadratic (a 10⁶-posting boilerplate span → 10¹²
    # pairs) AND silently described a different graph than
    # graph_triangle_stats despite the docstring's "same edge set" claim
    f"WITH {_SPAN_EDGES_CTES}, deg AS ("
    "  SELECT v, CAST(count(*) AS BIGINT) AS d FROM ("
    "    SELECT da AS v FROM e UNION ALL SELECT db AS v FROM e"
    "  ) GROUP BY v"
    "), ends AS ("
    "  SELECT x.d AS dx, y.d AS dy FROM e"
    "  JOIN deg x ON x.v = e.da JOIN deg y ON y.v = e.db"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS m, "
    "  sum(CAST(dx + dy AS HUGEINT)) AS sxy_sum, "
    "  sum(CAST(dx AS HUGEINT) * dy) AS sxyp, "
    "  sum(CAST(dx AS HUGEINT) * dx + CAST(dy AS HUGEINT) * dy) AS ssq"
    "  FROM ends"
    ") SELECT "
    "CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes, "
    "CAST(s.m AS BIGINT) AS n_edges, "
    "CAST((SELECT max(d) FROM deg) AS BIGINT) AS max_degree, "
    "round((SELECT sum(d) FROM deg) / (1.0 * (SELECT count(*) FROM deg)), 6)"
    " AS mean_degree, "
    "round((CAST(4 * s.m * s.sxyp - s.sxy_sum * s.sxy_sum AS DOUBLE)) "
    "/ nullif(CAST(2 * s.m * s.ssq - s.sxy_sum * s.sxy_sum AS DOUBLE), 0), 6)"
    " AS assortativity "
    "FROM s"
)


@register("graph_degree_stats", oracle=GRAPH_DEGREE_STATS_ORACLE, tier="B")
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree census + degree assortativity of the duplicated-span document
    graph (the dedup_spans / graph_triangle_stats edge set): node/edge
    counts, max and mean degree, and Newman's degree assortativity r —
    positive r says heavy duplicators cluster together (collapse in one
    sweep), negative says hub-and-spoke boilerplate (a hub doc shares
    spans with many otherwise-clean docs — collapsing components would
    over-merge). With triangle clustering, the two numbers that decide
    the dedup_cluster policy.

    r is the Pearson correlation of (deg_a, deg_b) over edges treated as
    UNDIRECTED (both orientations): with Σ over directed ends, r =
    (4mΣxy − (Σ(x+y))²) / (2mΣ(x²+y²) − (Σ(x+y))²) — all sufficient
    statistics are exact HUGEINT/decimal(38) integer sums (degree products
    over mega-hubs outgrow int64), one double division, 6 dp.

    Scale: edges come from the SHARED capped single-exchange derivation
    (staged_r9._span_edges — window-count posting cap, 60-bit long span
    key), so this op reads literally the same graph graph_triangle_stats
    censuses and a boilerplate hub span cannot go quadratic (the original
    uncapped self-join could); degrees are one explode + combine; the
    ends join broadcasts nothing bigger than the degree table keyed by
    node."""
    from .staged_r9 import _span_edges

    d = load_table(spark, sf_dir, "documents")
    with persisting() as keep:
        e = keep(_span_edges(d))
        deg = (
            e.select(F.col("da").alias("v"))
            .unionAll(e.select(F.col("db").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        dx = deg.select(F.col("v").alias("da"), F.col("d").alias("dx"))
        dy = deg.select(F.col("v").alias("db"), F.col("d").alias("dy"))
        d38 = "decimal(38,0)"
        s = (
            e.join(dx, "da")
            .join(dy, "db")
            .agg(
                F.count("*").cast(d38).alias("m"),
                F.sum((F.col("dx") + F.col("dy")).cast(d38)).alias("sxy_sum"),
                F.sum(F.col("dx").cast(d38) * F.col("dy")).alias("sxyp"),
                F.sum(
                    F.col("dx").cast(d38) * F.col("dx")
                    + F.col("dy").cast(d38) * F.col("dy")
                ).alias("ssq"),
            )
        )
        summary = F.broadcast(
            deg.agg(
                F.count("*").cast("long").alias("n_nodes"),
                F.max("d").cast("long").alias("max_degree"),
                F.sum("d").alias("deg_sum"),
            )
        )
        out = s.crossJoin(summary).select(
            "n_nodes",
            F.col("m").cast("long").alias("n_edges"),
            "max_degree",
            F.round(F.col("deg_sum") / (1.0 * F.col("n_nodes")), 6).alias(
                "mean_degree"
            ),
            F.round(
                F.try_divide(
                    (
                        4 * F.col("m") * F.col("sxyp")
                        - F.col("sxy_sum") * F.col("sxy_sum")
                    ).cast("double"),
                    (
                        2 * F.col("m") * F.col("ssq")
                        - F.col("sxy_sum") * F.col("sxy_sum")
                    ).cast("double"),
                ),
                6,
            ).alias("assortativity"),
        )
        return pin(out)


# --- WAV header metadata (second codec-free modality) ------------------------

# Canonical 44-byte PCM WAV header + zeroed payload bytes we never decode.
_WAV_HEADER_BYTES = 44

MM_WAV_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(8000 * (1 + doc_id % 5) AS BIGINT) AS sample_rate, "
    "CAST(1 + doc_id % 2 AS BIGINT) AS channels, "
    "CAST(16 AS BIGINT) AS bits_per_sample, "
    "CAST(n_chars AS BIGINT) AS n_samples, "
    "round(n_chars * 1000.0 / (8000 * (1 + doc_id % 5)), 6) AS duration_ms, "
    "TRUE AS valid_riff "
    "FROM documents WHERE doc_id >= 40 AND doc_id < 80"
)


@register("mm_wav_meta", oracle=MM_WAV_META_ORACLE, tier="B")
def mm_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata (sample rate / channels / bit depth / duration)
    parsed from REAL RIFF/WAV headers ENTIRELY JVM-side — the
    little-endian sibling of :func:`mm_png_meta` (PNG is big-endian; WAV's
    LE u32/u16 fields are reassembled from per-byte hex/conv terms, still
    zero Python in the scan). Together the two prove the multimodal
    metadata path over both byte orders with full value oracles — at
    100 TB you triage a mixed media dump by header sniffing long before
    any decoder runs.

    40 deterministic WAVs stage from documents (rate/channels from doc_id,
    sample count = n_chars, so the ORACLE derives every field from the
    source table); payload bytes are zeroed — structure parsing only,
    mm_binary_surface's decode stub remains the codec boundary."""
    import hashlib
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
        .select("doc_id", "n_chars")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_wav_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 40 bounded fixture rows — staging only
        rate = 8000 * (1 + r.doc_id % 5)
        channels = 1 + r.doc_id % 2
        bits = 16
        n_samples = r.n_chars
        block_align = channels * bits // 8
        data_size = n_samples * block_align
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                    rate * block_align, block_align, bits)
            + b"data" + struct.pack("<I", data_size)
        )
        assert len(hdr) == _WAV_HEADER_BYTES
        with open(f"{stage}/{r.doc_id}.wav", "wb") as f:
            f.write(hdr + b"\x00" * min(data_size, 64))  # truncated payload
    if not os.listdir(stage):
        # empty corpus staged zero blobs (mm_png_meta convention)
        return spark.createDataFrame(
            [],
            "doc_id long, sample_rate long, channels long, "
            "bits_per_sample long, n_samples long, duration_ms double, "
            "valid_riff boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.wav")

    def le_u(pos: int, nbytes: int):
        """Little-endian unsigned int at 1-based offset, from per-byte terms."""
        total = F.lit(0).cast("long")
        for i in range(nbytes):
            byte = F.conv(F.hex(F.substring("content", pos + i, 1)), 16, 10).cast(
                "long"
            )
            total = total + byte * (256 ** i)
        return total

    rate = le_u(25, 4)
    channels = le_u(23, 2)
    bits = le_u(35, 2)
    data_size = le_u(41, 4)
    block_align = le_u(33, 2)
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.wav$", 1).cast("long").alias("doc_id"),
        rate.alias("sample_rate"),
        channels.alias("channels"),
        bits.alias("bits_per_sample"),
        (data_size / block_align).cast("long").alias("n_samples"),
        F.round((data_size / block_align) * 1000.0 / rate, 6).alias("duration_ms"),
        (
            (F.hex(F.substring("content", 1, 4)) == F.lit("52494646"))  # 'RIFF'
            & (F.hex(F.substring("content", 9, 4)) == F.lit("57415645"))  # 'WAVE'
        ).alias("valid_riff"),
    )


# --- A/B power analysis -------------------------------------------------------

# two-sided alpha = 0.05, power = 0.8 (z literals exact on both engines)
_Z_ALPHA2 = 1.959963984540054
_Z_BETA = 0.8416212335729143

EVENT_POWER_ANALYSIS_ORACLE = (
    "WITH per_user AS ("
    "  SELECT user_id, user_id % 2 AS variant, "
    f"    sum(CASE WHEN event_type = 'purchase' THEN {money_cents_sql('value')} "
    "    ELSE 0 END) AS y"
    "  FROM events GROUP BY user_id"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, sum(CAST(y AS HUGEINT)) AS sy, "
    "  sum(CAST(y AS HUGEINT) * y) AS syy FROM per_user"
    "), arm AS ("
    "  SELECT variant, CAST(count(*) AS BIGINT) AS n_arm, "
    "  sum(CAST(y AS HUGEINT)) AS sy_arm FROM per_user GROUP BY variant"
    "), v AS ("
    "  SELECT CAST(n * syy - sy * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)"
    "  AS var_cents2, n FROM s"
    ") SELECT "
    "CAST(c.n_arm AS BIGINT) AS n_control, CAST(t.n_arm AS BIGINT) AS n_treat, "
    "round(v.var_cents2 / 10000.0, 6) AS variance, "
    "round((CAST(t.sy_arm AS DOUBLE) / t.n_arm - CAST(c.sy_arm AS DOUBLE) / c.n_arm)"
    " / 100.0, 6) AS observed_diff, "
    "CAST(ceil("
    f"  2.0 * v.var_cents2 * {(_Z_ALPHA2 + _Z_BETA) ** 2!r} "
    "  / nullif((CAST(t.sy_arm AS DOUBLE) / t.n_arm "
    "            - CAST(c.sy_arm AS DOUBLE) / c.n_arm) "
    "         * (CAST(t.sy_arm AS DOUBLE) / t.n_arm "
    "            - CAST(c.sy_arm AS DOUBLE) / c.n_arm), 0)"
    ") AS BIGINT) AS n_required_per_arm "
    "FROM v, arm c, arm t WHERE c.variant = 0 AND t.variant = 1"
)


@register("event_power_analysis", oracle=EVENT_POWER_ANALYSIS_ORACLE, tier="C")
def event_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size read-out: per-arm n required to detect the OBSERVED
    treatment−control difference in per-user purchase revenue at two-sided
    α=0.05 with 80% power — n = 2σ²(z_{α/2}+z_β)²/Δ² (the experimenter's
    first question after event_ab_test says "not significant": how long
    would this take to detect?). σ² is the pooled per-user sample variance.

    Exactness: n/Σy/Σy² accumulate in decimal(38)/HUGEINT cents; variance,
    Δ, and the ceil argument are single double expressions over those
    integers with the z constants as identical literals; ceil of identical
    doubles is identical, cast to int64. Δ=0 → NULL via the guarded
    divide (oracle nullif). Scale: one user_id shuffle, 1-row + per-arm
    aggregates — the stat_linreg shape."""
    ev = load_table(spark, sf_dir, "events")
    cents = money_cents(F.col("value"))
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("y")
    ).withColumn("variant", F.col("user_id") % 2)
    d38 = "decimal(38,0)"
    s = per_user.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
    )
    arm = per_user.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_arm"),
        F.sum(F.col("y").cast(d38)).alias("sy_arm"),
    )
    var_cents2 = (
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    v = F.broadcast(s.select(var_cents2.alias("var_cents2")))
    c = arm.where(F.col("variant") == 0).select(
        F.col("n_arm").alias("n_control"), F.col("sy_arm").alias("sy_c")
    )
    t = arm.where(F.col("variant") == 1).select(
        F.col("n_arm").alias("n_treat"), F.col("sy_arm").alias("sy_t")
    )
    diff_cents = (
        F.col("sy_t").cast("double") / F.col("n_treat")
        - F.col("sy_c").cast("double") / F.col("n_control")
    )
    k = (_Z_ALPHA2 + _Z_BETA) ** 2
    return (
        c.crossJoin(t)
        .crossJoin(v)
        .select(
            "n_control",
            "n_treat",
            F.round(F.col("var_cents2") / 10000.0, 6).alias("variance"),
            F.round(diff_cents / 100.0, 6).alias("observed_diff"),
            F.ceil(
                F.try_divide(
                    2.0 * F.col("var_cents2") * F.lit(k),
                    diff_cents * diff_cents,
                )
            )
            .cast("long")
            .alias("n_required_per_arm"),
        )
    )


# --- language-ID evaluation (confusion matrix) -------------------------------

TEXT_LANGID_EVAL_ORACLE = (
    "WITH g AS ("
    "  SELECT lang, CASE WHEN contains(text, 'the ') OR contains(text, ' the') "
    "  THEN 'en_like' ELSE 'other' END AS lang_guess FROM documents"
    "), cm AS ("
    "  SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n"
    "  FROM g GROUP BY lang, lang_guess"
    "), tot AS (SELECT sum(n) AS t FROM cm), "
    "acc AS ("
    "  SELECT sum(CASE WHEN (lang = 'en') = (lang_guess = 'en_like') THEN n "
    "  ELSE 0 END) AS ok FROM cm"
    ") SELECT cm.lang, cm.lang_guess, cm.n, "
    "round(cm.n / (1.0 * tot.t), 6) AS frac, "
    "round(acc.ok / (1.0 * tot.t), 6) AS overall_accuracy "
    "FROM cm, tot, acc"
)


@register("text_langid_eval", oracle=TEXT_LANGID_EVAL_ORACLE, tier="B")
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the :func:`..text.text_langid` heuristic against
    the labeled ``lang`` column — classifier evaluation AS a dataframe op
    (every curation-pipeline classifier needs this read-out riding the
    same scan as the classifier itself): per (true lang, guess) cell its
    count and corpus fraction, with the overall binary accuracy (en vs
    non-en, the rule's actual contract) repeated on each row for the
    one-pass report shape.

    Exactness: counts exact; fractions one division, 6 dp. Scale: a
    (|langs|×2)-cell aggregate with two 1-row broadcasts — wordcount-
    shaped."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "lang",
        F.when(
            F.col("text").contains("the ") | F.col("text").contains(" the"), "en_like"
        )
        .otherwise("other")
        .alias("lang_guess"),
    )
    cm = g.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    tot = F.broadcast(cm.agg(F.sum("n").alias("t")))
    acc = F.broadcast(
        cm.agg(
            F.sum(
                F.when(
                    (F.col("lang") == "en") == (F.col("lang_guess") == "en_like"),
                    F.col("n"),
                ).otherwise(0)
            ).alias("ok")
        )
    )
    return (
        cm.crossJoin(tot)
        .crossJoin(acc)
        .select(
            "lang",
            "lang_guess",
            "n",
            F.round(F.col("n") / (1.0 * F.col("t")), 6).alias("frac"),
            F.round(F.col("ok") / (1.0 * F.col("t")), 6).alias("overall_accuracy"),
        )
    )


# --- near-dup detector evaluation (simhash vs exact Jaccard truth) -----------

_EVAL_J_TAU = 0.3  # ground truth: exact trigram-shingle Jaccard >= 0.3

# Reuses the canonical shared CTEs verbatim so the evaluation's truth and
# prediction sides are BY CONSTRUCTION the registered ops' specs:
# dedup.SHINGLES_CTE -> sh(doc_id, s) and dedup.ORACLE_SIMHASH_FP's
# fingerprint pipeline -> fp(doc_id, simhash).
DEDUP_EVAL_SIMHASH_ORACLE = (
    f"{SHINGLES_CTE}, "
    "truth AS ("
    f"{oracle_jaccard_pairs_select(_EVAL_J_TAU, 'doc_id_a', 'doc_id_b')}"
    "), "
    # predictions: doc pairs whose 60-bit simhash fingerprints are within
    # hamming 3 (dedup_simhash_pairs' spec, expanded to doc level)
    f"{ORACLE_SIMHASH_FP.removeprefix('WITH ')}, "
    "pred AS ("
    "  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b"
    "  FROM fp a JOIN fp b ON a.doc_id < b.doc_id"
    "  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    "), m AS ("
    "  SELECT "
    "  (SELECT count(*) FROM truth) AS n_truth, "
    "  (SELECT count(*) FROM pred) AS n_pred, "
    "  (SELECT count(*) FROM truth JOIN pred USING (doc_id_a, doc_id_b)) AS tp"
    ") SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_pred AS BIGINT) AS n_pred, "
    "CAST(tp AS BIGINT) AS tp, "
    "round(tp / (1.0 * nullif(n_pred, 0)), 6) AS precision_r, "
    "round(tp / (1.0 * nullif(n_truth, 0)), 6) AS recall_r "
    "FROM m"
)


@register("dedup_eval_simhash", oracle=DEDUP_EVAL_SIMHASH_ORACLE, tier="B")
def dedup_eval_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector evaluation AS data, fully hash-oracled: precision/recall of
    the SimHash hamming≤3 pairing against EXACT 2-gram-Jaccard ≥ 0.3 ground
    truth — the read-out that turns "we use SimHash" into "SimHash finds
    X% of true near-dups at Y% precision on OUR corpus", which is the only
    form a dedup-threshold decision should take. Every ingredient is
    deterministic on both engines (md5 fingerprints, exact Jaccard), so
    unlike MinHash/LSH recall tests this entire evaluation is itself
    driver-verifiable.

    Scale: BOTH sides reuse the registered bucketed forms — truth is
    dedup_ngram_jaccard's inverted-index join (Σ freq², near-linear on
    sparse corpora; its own docstring carries the worst-case note), the
    prediction side expands dedup_simhash_pairs' pigeonhole fingerprint
    pairs to doc level through two fingerprint equi-joins, and the TP join
    is pair-keyed. No all-pairs anywhere — the oracle's quadratic FROM a, b
    is the oracle-scale spec, not the plan."""
    from .dedup import dedup_ngram_jaccard, dedup_simhash
    from .staged_r8 import dedup_simhash_pairs

    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    fp = dedup_simhash(spark, sf_dir)
    fpp = dedup_simhash_pairs(spark, sf_dir)  # fp_a, fp_b (+ diagonal groups)
    da = fp.select(F.col("simhash").alias("fp_a"), F.col("doc_id").alias("x"))
    db = fp.select(F.col("simhash").alias("fp_b"), F.col("doc_id").alias("y"))
    pred = (
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
    # Both pair frames feed TWO actions each (their own count + the TP
    # join) — unpinned, the full Jaccard engine and the SimHash pipeline
    # each ran twice, making this the repo's slowest key (37.7 s warm at
    # sf0.1 in TIMING_CENSUS_r12). Keeping both across the three counts
    # computes each side once; output identical (same counts
    # 256/271530/54), pre-measured 6.4–11.6 s (~4–6×).
    with persisting() as keep:
        n_truth = keep(truth).count()
        n_pred = keep(pred).count()
        tp = truth.join(pred, ["doc_id_a", "doc_id_b"]).count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_pred,
                tp,
                round(tp / n_pred, 6) if n_pred else None,
                round(tp / n_truth, 6) if n_truth else None,
            )
        ],
        "n_truth long, n_pred long, tp long, precision_r double, recall_r double",
    )


# --- SCD2 snapshot diff -------------------------------------------------------

_DIFF_T1_DAY, _DIFF_T2_DAY = 10, 20  # as-of offsets (days after corpus start)

# The dimension subquery is warehouse.SCD2_ORACLE verbatim — the diff's
# notion of "state at T" is BY CONSTRUCTION the registered scd2_build spec.
def _scd2_snapshot_diff_oracle() -> str:
    from .warehouse import SCD2_ORACLE

    def snap(day: int, alias: str) -> str:
        at = f"m.t0 + {day} * 86400000000"
        return (
            f"SELECT user_id, state AS {alias} FROM dim, m "
            f"WHERE valid_from_us <= {at} "
            f"AND (valid_to_us IS NULL OR valid_to_us > {at})"
        )

    return (
        f"WITH dim AS ({SCD2_ORACLE}), "
        "m AS (SELECT min(epoch_ns(ts) // 1000) AS t0 FROM events), "
        f"s1 AS ({snap(_DIFF_T1_DAY, 'state_t1')}), "
        f"s2 AS ({snap(_DIFF_T2_DAY, 'state_t2')}) "
        "SELECT coalesce(s1.user_id, s2.user_id) AS user_id, "
        "s1.state_t1 AS state_t1, s2.state_t2 AS state_t2, "
        "CASE WHEN s1.user_id IS NULL THEN 'added' "
        "WHEN s2.user_id IS NULL THEN 'removed' ELSE 'changed' END AS change_type "
        "FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id "
        "WHERE s1.user_id IS NULL OR s2.user_id IS NULL "
        "OR s1.state_t1 <> s2.state_t2"
    )


SCD2_SNAPSHOT_DIFF_ORACLE = _scd2_snapshot_diff_oracle()


@register("scd2_snapshot_diff", oracle=SCD2_SNAPSHOT_DIFF_ORACLE, tier="C")
def scd2_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot DIFF over the SCD2 dimension — "what changed
    between as-of T1 and as-of T2": each user's current state at both
    instants (half-open [valid_from, valid_to) containment, the
    join_pit_scd2 convention), emitting only users whose state was added,
    removed, or changed — the warehouse audit query behind every "why did
    the metric move" investigation, and the temporal complement of
    cdc_apply's log-compaction view.

    T1/T2 are day offsets from the corpus start (min event µs), so the
    diff is deterministic on any slice of the fixture. Exactness:
    all-integer interval bounds, string state compare; no floats at all.

    Scale: the dimension builds on ONE user_id window layout (scd2_build's
    plan); each snapshot is a filter over it; the diff is a user-keyed
    full-outer join — three shuffle-free-after-the-first-exchange stages."""
    from ..sources.loader import ts_us
    from .warehouse import scd2_build

    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(ts_us("ts")).alias("t0"))
    dim = scd2_build(spark, sf_dir)  # user_id, version, state, valid_from_us, valid_to_us
    us_day = 86_400_000_000

    def snapshot(day: int, alias: str) -> DataFrame:
        at = F.col("t0") + day * us_day
        return (
            dim.crossJoin(F.broadcast(t0))
            .where(
                (F.col("valid_from_us") <= at)
                & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > at))
            )
            .select("user_id", F.col("state").alias(alias))
        )

    s1 = snapshot(_DIFF_T1_DAY, "state_t1")
    s2 = snapshot(_DIFF_T2_DAY, "state_t2")
    return (
        s1.join(s2, "user_id", "full_outer")
        .where(
            F.col("state_t1").isNull()
            | F.col("state_t2").isNull()
            | (F.col("state_t1") != F.col("state_t2"))
        )
        .select(
            "user_id",
            "state_t1",
            "state_t2",
            F.when(F.col("state_t1").isNull(), "added")
            .when(F.col("state_t2").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
        )
    )


# --- one-row dedup detector comparison ---------------------------------------

def _dedup_report_oracle() -> str:
    """Composes the REGISTERED detectors' own oracle SQL verbatim as
    scalar-count subqueries (DuckDB allows a WITH inside a scalar
    subquery), so each column is BY CONSTRUCTION the registered spec."""
    from ..registry import REGISTRY

    j = REGISTRY["dedup_ngram_jaccard"].oracle
    mh = REGISTRY["dedup_fuzzy_minhash"].oracle
    sp = REGISTRY["dedup_simhash_pairs"].oracle
    em = REGISTRY["dedup_embedding"].oracle
    ds = REGISTRY["dedup_spans"].oracle
    return (
        "SELECT "
        "CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs, "
        "CAST((SELECT count(*) FROM ("
        "  SELECT text FROM documents GROUP BY text HAVING count(*) > 1"
        ") g JOIN documents d ON d.text = g.text) AS BIGINT) AS n_exact_dup_docs, "
        f"CAST((SELECT count(*) FROM ({j})) AS BIGINT) AS n_jaccard_pairs, "
        f"CAST((SELECT count(*) FROM ({mh})) AS BIGINT) AS n_minhash_pairs, "
        f"CAST((SELECT count(*) FROM ({sp})) AS BIGINT) AS n_simhash_pairs, "
        f"CAST((SELECT count(*) FROM ({em})) AS BIGINT) AS n_embedding_pairs, "
        f"CAST((SELECT count(*) FROM ({ds})) AS BIGINT) AS n_dup_spans"
    )


PIPELINE_DEDUP_REPORT_ORACLE = _dedup_report_oracle()


@register("pipeline_dedup_report", oracle=PIPELINE_DEDUP_REPORT_ORACLE, tier="B")
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row comparison of every duplicate detector on the corpus —
    exact-dup docs, n-gram-Jaccard pairs (τ=0.3), MinHash-LSH pairs
    (τ=0.6 spec), SimHash hamming≤3 fingerprint pairs, embedding-cosine
    pairs (τ=0.45), and duplicated k-token spans — the side-by-side a
    dedup-policy decision actually reads (detectors disagree by design:
    each column is a different definition of "duplicate"). Beside
    pipeline_corpus_report's health KPI, this is the dedup KPI.

    Both sides compose the REGISTERED detectors verbatim: the Spark side
    cross-joins each detector's count aggregate (one job, every count a
    1-row broadcast), the oracle embeds each detector's registered oracle
    SQL as a scalar-count subquery — so this report cannot drift from the
    ops it summarizes.

    Scale: the detectors dominate; the report adds six 1-row aggregates."""
    from .dedup import (
        dedup_embedding,
        dedup_fuzzy_minhash,
        dedup_ngram_jaccard,
    )
    from .staged_r8 import dedup_simhash_pairs
    from .staged_r9 import dedup_spans

    d = load_table(spark, sf_dir, "documents")
    dup_docs = (
        d.groupBy("text")
        .agg(F.count("*").alias("k"))
        .where(F.col("k") > 1)
        .agg(F.coalesce(F.sum("k"), F.lit(0)).alias("n_exact_dup_docs"))
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias(name))

    return (
        d.agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(dup_docs))
        .crossJoin(F.broadcast(cnt(dedup_ngram_jaccard(spark, sf_dir), "n_jaccard_pairs")))
        .crossJoin(F.broadcast(cnt(dedup_fuzzy_minhash(spark, sf_dir), "n_minhash_pairs")))
        .crossJoin(F.broadcast(cnt(dedup_simhash_pairs(spark, sf_dir), "n_simhash_pairs")))
        .crossJoin(F.broadcast(cnt(dedup_embedding(spark, sf_dir), "n_embedding_pairs")))
        .crossJoin(F.broadcast(cnt(dedup_spans(spark, sf_dir), "n_dup_spans")))
    )


# --- MMR diversified re-ranking ----------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 20  # candidate pool (top-N by relevance)
_MMR_K = 5  # final diversified selection


def _mmr_oracle() -> str:
    """Unrolled greedy MMR over the top-``_MMR_POOL`` candidate pool: pick 1
    = argmax relevance; pick i = argmax λ·rel − (1−λ)·max sim to the picks
    so far (ties by vec_id). Every score is a single double expression over
    6-dp-rounded cosines with λ a shared literal, so the argmax sequence is
    engine-identical."""
    lam = _MMR_LAMBDA
    parts = [
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        "cand AS ("
        "  SELECT b.vec_id, "
        "  round(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS rel, "
        "  b.embedding"
        "  FROM embeddings b, q WHERE b.vec_id <> 0"
        f"  ORDER BY rel DESC, b.vec_id LIMIT {_MMR_POOL}"
        "), sims AS ("
        "  SELECT a.vec_id AS ia, b.vec_id AS ib, "
        "  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS s"
        "  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id"
        "), "
        "p1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"
    ]
    prev_sel = "p1"
    for i in range(2, _MMR_K + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT vec_id FROM p{j}" for j in range(1, i)
        )
        parts.append(
            f", sel{i} AS ({sel_union})"
            f", p{i} AS ("
            "  SELECT c.vec_id, c.rel FROM cand c"
            f"  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i})"
            f"  ORDER BY {lam} * c.rel - {1 - lam} * ("
            "    SELECT max(s) FROM sims"
            f"    WHERE ia = c.vec_id AND ib IN (SELECT vec_id FROM sel{i})"
            "  ) DESC, c.vec_id LIMIT 1"
            ")"
        )
        prev_sel = f"p{i}"
    union = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS rank, vec_id, rel FROM p{j}"
        for j in range(1, _MMR_K + 1)
    )
    return "".join(parts) + f" {union}"


SIM_MMR_DIVERSIFY_ORACLE = _mmr_oracle()


@register("sim_mmr_diversify", oracle=SIM_MMR_DIVERSIFY_ORACLE, tier="B")
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    of the vec_id-0 query's top-``_MMR_POOL`` neighbors: greedily pick
    ``_MMR_K`` results maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-picked — the diversity-aware final stage of every RAG /
    retrieval pipeline (plain top-k returns near-duplicates of the same
    passage; MMR spends the k slots on coverage).

    Execution shape: the DISTRIBUTED part is the candidate generation (the
    sim_knn_query broadcast-query scan); the greedy loop then runs
    driver-side over the ``_MMR_POOL``-row pool and its pool×pool cosine
    matrix — bounded candidate metadata (the argmax-collect convention),
    NEVER corpus-sized. The oracle unrolls the identical greedy argmax in
    SQL over 6-dp-rounded cosines, so the selection sequence is
    engine-exact (ties by vec_id)."""
    import numpy as np

    lam = _MMR_LAMBDA
    e = load_table(spark, sf_dir, "embeddings")
    qrows = e.where(F.col("vec_id") == 0).select("embedding").collect()
    if not qrows:
        return spark.createDataFrame([], "rank int, vec_id long, rel double")
    from .similarity import dot, round_half_up

    q = F.broadcast(
        e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    cand_rows = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("qe")), 6).alias("rel"),
            "embedding",
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .collect()  # bounded pool — candidate metadata, not the corpus
    )
    if not cand_rows:
        # query vector exists but has no candidates (single-vector corpus):
        # same empty result as the oracle, instead of max() over an empty
        # remaining set raising ValueError (r8 review finding 4)
        return spark.createDataFrame([], "rank int, vec_id long, rel double")
    ids = [r.vec_id for r in cand_rows]
    rel = {r.vec_id: r.rel for r in cand_rows}
    X = np.array([r.embedding for r in cand_rows], dtype=np.float64)
    S = round_half_up(X @ X.T)
    idx = {v: i for i, v in enumerate(ids)}

    selected: list[int] = []
    remaining = set(ids)
    # pick 1: pure relevance (pool is rel-sorted with vec_id tiebreak)
    first = max(remaining, key=lambda v: (rel[v], -v))
    selected.append(first)
    remaining.discard(first)
    while len(selected) < min(_MMR_K, len(ids)):
        best = max(
            remaining,
            key=lambda v: (
                lam * rel[v]
                - (1 - lam) * max(S[idx[v], idx[s]] for s in selected),
                -v,
            ),
        )
        selected.append(best)
        remaining.discard(best)
    return spark.createDataFrame(
        [(i + 1, v, float(rel[v])) for i, v in enumerate(selected)],
        "rank int, vec_id long, rel double",
    )
