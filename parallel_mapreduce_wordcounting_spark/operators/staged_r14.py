"""Retrieval-ranking / association / language-richness wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r14.py holds the independent property checks.

Contents:

- ``text_bm25`` — Okapi BM25 (k₁=1.2, b=0.75) document ranking for a
  fixed keyword query: the lexical-retrieval baseline every RAG stack
  compares against, exact to the formula.
- ``sim_rrf_hybrid`` — hybrid retrieval by Reciprocal Rank Fusion
  (Cormack 2009): fuse a DENSE ranking (embedding cosine) with a SPARSE
  ranking (tf-idf dot product) as Σ 1/(60+rank) — the modern default for
  combining vector and lexical search, with both input rankings and the
  fusion computed exactly on both engines.
- ``stat_cramers_v`` — Cramér's V effect size over the lang × source
  contingency table (is language mix independent of source?) — the
  association strength beside stat_chi2_independence's type×weekday test.
- ``text_hapax`` — hapax/dis-legomena vocabulary richness per language
  (the share of once-seen words — corpus diversity / OCR-noise signal).
- ``event_markov_eval`` — accuracy of the majority-transition next-event
  predictor per antecedent type: the evaluation layer over
  event_transitions' raw matrix.

Exactness doctrine: unchanged — integer/decimal(38) accumulations, single
double expressions rounded ≤6 dp, ranks assigned on pre-rounded scores
with integer tiebreaks so every ranking is decided deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents_sql  # noqa: F401  (kept for wave symmetry)

_D38 = "decimal(38,0)"

# --- Okapi BM25 ---------------------------------------------------------------

_BM25_QUERY = ("join", "filter", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

_BM25_Q_SQL = ", ".join(f"'{t}'" for t in _BM25_QUERY)

TEXT_BM25_ORACLE = (
    "WITH toks AS ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
    "), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), "
    "stats AS ("
    "  SELECT (SELECT count(*) FROM documents) AS n_docs, "
    "  (SELECT avg(dl) FROM dl) AS avgdl"
    "), tf AS ("
    f"  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word IN ({_BM25_Q_SQL})"
    "  GROUP BY 1, 2"
    "), df AS (SELECT word, count(*) AS df FROM tf GROUP BY word), "
    "scored AS ("
    "  SELECT tf.doc_id, "
    "  round(sum("
    "    ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) "
    f"    * tf.tf * ({_BM25_K1} + 1.0) "
    f"    / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))"
    "  ), 6) AS bm25"
    "  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats"
    "  GROUP BY tf.doc_id"
    ") SELECT doc_id, bm25 "
    f"FROM scored ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}"
)


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking (k₁=1.2, b=0.75) of documents against a fixed
    keyword query — THE lexical-retrieval baseline (Robertson & Walker
    1994): idf(t)·tf·(k₁+1) / (tf + k₁·(1−b+b·dl/avgdl)) summed over
    query terms, idf = ln(1+(N−df+0.5)/(df+0.5)).

    Exactness: tf/df/dl/N are exact integers; avgdl is one exact-integer
    ratio; each document's score sums ≤|query| identical double terms and
    rounds to 6 dp BEFORE the top-k rank (doc_id tiebreak), so the
    ranking is engine-exact.

    Scale: the inverted-index shape — the WHERE word IN (query) filter
    prunes the token stream to query postings BEFORE any shuffle (at 100
    TB this is the difference between scoring the corpus and scoring the
    postings); doc lengths come from one map-side-combining aggregate;
    N/avgdl is a 1-row broadcast. ``orderBy().limit()`` compiles to
    TakeOrderedAndProject."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    stats = n_docs.crossJoin(avgdl)
    tf = (
        toks.filter(F.col("word").isin(*_BM25_QUERY))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_BM25_TOPK)


# --- Reciprocal Rank Fusion hybrid retrieval ---------------------------------

_RRF_K = 60  # the canonical RRF constant
_RRF_PROBES = 3  # doc_id < 3 double as queries (vec_id aligns with doc_id)
_RRF_POOL = 10  # per-ranking candidate pool
_RRF_TOPK = 5  # fused results per query

# dense ranking: embedding cosine (vec_id aligns with doc_id in the fixture)
_RRF_DENSE_SQL = (
    "SELECT q.vec_id AS query_id, d.vec_id AS doc_id, "
    "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    "  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), "
    "                         CAST(d.embedding AS DOUBLE[])) "
    "    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) "
    "     * sqrt(list_dot_product(CAST(d.embedding AS DOUBLE[]), CAST(d.embedding AS DOUBLE[])))), 6) DESC, "
    "  d.vec_id) AS rnk "
    f"FROM embeddings q JOIN embeddings d ON q.vec_id < {_RRF_PROBES} "
    "  AND d.vec_id <> q.vec_id"
)

# sparse ranking: tf-idf dot product via the inverted index
_RRF_SPARSE_SQL = (
    "WITH toks AS ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
    "), tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2), "
    "idf AS ("
    "  SELECT word, ln((SELECT count(*) FROM documents) + 1.0) "
    "    - ln(count(DISTINCT doc_id) + 1.0) AS idf"
    "  FROM toks GROUP BY word"
    "), w AS ("
    "  SELECT tf.doc_id, tf.word, tf.tf * idf.idf AS w FROM tf JOIN idf USING (word)"
    ") SELECT a.doc_id AS query_id, b.doc_id AS doc_id, "
    "row_number() OVER (PARTITION BY a.doc_id ORDER BY "
    "  round(sum(a.w * b.w), 6) DESC, b.doc_id) AS rnk "
    f"FROM w a JOIN w b ON a.word = b.word AND a.doc_id < {_RRF_PROBES} "
    "  AND b.doc_id <> a.doc_id "
    "GROUP BY a.doc_id, b.doc_id"
)

SIM_RRF_HYBRID_ORACLE = (
    f"WITH dense AS ({_RRF_DENSE_SQL}), sparse AS ({_RRF_SPARSE_SQL}), "
    "pool AS ("
    f"  SELECT query_id, doc_id, rnk, 'dense' AS src FROM dense WHERE rnk <= {_RRF_POOL} "
    "  UNION ALL "
    f"  SELECT query_id, doc_id, rnk, 'sparse' AS src FROM sparse WHERE rnk <= {_RRF_POOL}"
    "), fused AS ("
    "  SELECT query_id, doc_id, "
    f"  round(sum(1.0 / ({_RRF_K} + rnk)), 6) AS rrf_score, "
    "  CAST(count(*) AS BIGINT) AS n_rankings"
    "  FROM pool GROUP BY 1, 2"
    "), ranked AS ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "    ORDER BY rrf_score DESC, doc_id) AS fused_rank FROM fused"
    ") SELECT query_id, doc_id, rrf_score, n_rankings, "
    f"CAST(fused_rank AS BIGINT) AS fused_rank FROM ranked WHERE fused_rank <= {_RRF_TOPK}"
)


def sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: fuse a DENSE ranking
    (embedding cosine) and a SPARSE ranking (tf-idf dot product) as
    RRF(d) = Σ_r 1/(60+rank_r(d)) over the rankings where d appears in
    the top-10 pool (Cormack, Clarke & Buettcher 2009) — the modern
    default for combining vector and lexical search because it needs no
    score calibration between the two systems, only RANKS.

    Both input rankings assign ranks on 6-dp-ROUNDED scores with doc_id
    tiebreaks, and the fusion sums exact rational 1/(60+rank) terms, so
    the fused order is engine-exact end to end. ``n_rankings`` exposes
    which hits were found by both systems vs one.

    Scale: the dense arm is the bounded-probe broadcast scan
    (sim_hamming_topk's shape — swap in the IVF/PQ index at corpus
    scale); the sparse arm is the query-side-pruned inverted-index join
    (df-bounded); fusion touches 2·|probes|·pool rows. RRF itself is
    O(pool) per query — never a corpus-sized operation."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _RRF_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # the shared JVM-side fold from similarity.py — one definition of the
    # dot/norm semantics, not a hand-synced F.expr copy (r8 review)
    from .similarity import dot as _dot

    dot = _dot(F.col("qe"), F.col("embedding"))
    norm = lambda c: F.sqrt(_dot(F.col(c), F.col(c)))  # noqa: E731
    dense = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (norm("qe") * norm("embedding")), 6).alias("cos"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rnk") <= _RRF_POOL)
        .select("query_id", "doc_id", "rnk")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # N rides as a broadcast 1-row frame (the text_bm25 shape in this same
    # file) — an eager .count() here paid a synchronous full-table scan at
    # plan-CONSTRUCTION time, twice per harness compare (r8 review
    # finding 8)
    nd = F.broadcast(
        load_table(spark, sf_dir, "documents").agg(
            F.count(F.lit(1)).cast("double").alias("n_docs")
        )
    )
    idf = (
        toks.groupBy("word")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(nd)
        .select(
            "word",
            (F.log(F.col("n_docs") + 1.0) - F.log(F.col("df") + F.lit(1.0))).alias(
                "idf"
            ),
        )
    )
    w = tf.join(idf, "word").select(
        "doc_id", "word", (F.col("tf") * F.col("idf")).alias("w")
    )
    qa = w.filter(F.col("doc_id") < _RRF_PROBES).select(
        F.col("doc_id").alias("query_id"),
        F.col("word").alias("qword"),
        F.col("w").alias("qw"),
    )
    sparse = (
        w.join(qa, (F.col("word") == F.col("qword")))
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("qw") * F.col("w")), 6).alias("dotw"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("dotw").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rnk") <= _RRF_POOL)
        .select("query_id", "doc_id", "rnk")
    )
    pool = dense.unionByName(sparse)
    fused = pool.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(1.0 / (_RRF_K + F.col("rnk"))), 6).alias("rrf_score"),
        F.count("*").cast("long").alias("n_rankings"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("rrf_score").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("fused_rank") <= _RRF_TOPK)
        .select(
            "query_id",
            "doc_id",
            "rrf_score",
            "n_rankings",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


# --- Cramér's V ---------------------------------------------------------------

STAT_CRAMERS_V_ORACLE = (
    "WITH o AS ("
    "  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2"
    "), rt AS (SELECT lang, sum(n) AS rn FROM o GROUP BY 1), "
    "ct AS (SELECT source, sum(n) AS cn FROM o GROUP BY 1), "
    "t AS (SELECT sum(n) AS nn FROM o), "
    "chi AS ("
    "  SELECT sum((coalesce(o.n, 0) - rt.rn * ct.cn / (1.0 * t.nn)) "
    "           * (coalesce(o.n, 0) - rt.rn * ct.cn / (1.0 * t.nn)) "
    "           / (rt.rn * ct.cn / (1.0 * t.nn))) AS chi2, "
    "  max(t.nn) AS nn"
    "  FROM rt CROSS JOIN ct CROSS JOIN t "
    "  LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source"
    # empty cells contribute E (observed 0): (0-E)^2/E = E
    "), dims AS ("
    "  SELECT (SELECT count(*) FROM rt) AS r, (SELECT count(*) FROM ct) AS c"
    ") SELECT CAST(chi.nn AS BIGINT) AS n, "
    "CAST(dims.r AS BIGINT) AS n_lang, CAST(dims.c AS BIGINT) AS n_source, "
    "round(chi.chi2, 4) AS chi2, "
    "round(sqrt(chi.chi2 / (chi.nn * least(dims.r - 1, dims.c - 1))), 6) AS cramers_v "
    "FROM chi CROSS JOIN dims"
)


def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between document language and
    source over the full contingency table — V = √(χ²/(N·min(r−1,c−1))) ∈
    [0,1], the normalized effect size stat_chi2_independence's raw χ²
    lacks (a huge χ² on a huge N can still be a trivial association).

    Empty contingency cells are handled by expanding the FULL r×c grid
    (row-total × column-total cross) so each absent cell contributes its
    expected mass to χ² — the correct statistic, identical on both
    engines (the grid is |langs|×|sources|, a constant-size frame).

    Exactness: observed counts and margins are exact integers; every χ²
    term and V is a double expression over them, rounded.

    Scale: one groupBy to the contingency table (≤ r·c rows), margin
    aggregates, and a constant-size cross of the margins. Corpus volume
    touches only the first aggregate."""
    o = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
    )
    rt = o.groupBy("lang").agg(F.sum("n").alias("rn"))
    ct = o.groupBy("source").agg(F.sum("n").alias("cn"))
    t = o.agg(F.sum("n").alias("nn"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(t))
        .join(o, ["lang", "source"], "left")
        .withColumn("obs", F.coalesce(F.col("n"), F.lit(0)))
    )
    # margin product in decimal(38): the oracle's rn/cn are HUGEINT (DuckDB
    # widens sum(BIGINT)), so its product is exact before the double divide
    # — a raw long*long on the Spark side aborts under ANSI overflow at the
    # corpus sizes the docstring targets (r8 review finding 10); the exact
    # product converts to double at the division on both engines.
    e = (F.col("rn").cast("decimal(38,0)") * F.col("cn")).cast("double") / (
        1.0 * F.col("nn")
    )
    # dims count MARGIN ROWS (NULL-inclusive, = the oracle's count(*) FROM
    # rt/ct): count_distinct("lang") drops a NULL lang row and shifts both
    # the reported dims and the V denominator (r8 review finding 4)
    rdim = rt.agg(F.count(F.lit(1)).alias("r"))
    cdim = ct.agg(F.count(F.lit(1)).alias("c"))
    chi = (
        grid.agg(
            F.sum((F.col("obs") - e) * (F.col("obs") - e) / e).alias("chi2"),
            F.max("nn").alias("nn"),
        )
        .crossJoin(F.broadcast(rdim))
        .crossJoin(F.broadcast(cdim))
    )
    return chi.select(
        F.col("nn").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_lang"),
        F.col("c").cast("long").alias("n_source"),
        F.round(F.col("chi2"), 4).alias("chi2"),
        # a 1×c or r×1 table has min(r−1, c−1) = 0: V undefined -> NULL
        # (DuckDB's x/0 yields inf -> sqrt(inf); nullif keeps parity there
        # only in the registry compare at sf0.01 where dims are real, and
        # the degenerate-corpus contract only requires no-crash)
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.nullif(
                        F.col("nn")
                        * F.least(F.col("r") - 1, F.col("c") - 1).cast("double"),
                        F.lit(0.0),
                    ),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --- hapax legomena richness --------------------------------------------------

TEXT_HAPAX_ORACLE = (
    "WITH toks AS ("
    "  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents"
    "), wf AS (SELECT lang, word, count(*) AS f FROM toks GROUP BY 1, 2) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS vocab, "
    "CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, "
    "CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena, "
    "round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6) "
    "  AS hapax_ratio, "
    "CAST(sum(f) AS BIGINT) AS tokens "
    "FROM wf GROUP BY lang"
)


def text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax/dis-legomena vocabulary richness per language: the share of
    once-seen (and twice-seen) words in the vocabulary — the classic
    lexical-diversity measure (≈50% hapax in natural corpora per Zipf;
    collapses under template spam, explodes under OCR noise or
    tokenization bugs — both directions are data-quality signals beside
    text_zipf's slope).

    All counts are exact integers from two map-side-combining aggregates
    (token → (lang, word, f) → per-lang rollup); one rounded ratio.

    Scale: the word-frequency table is the wordcount shuffle — the
    engine's founding workload — and the rollup is |langs| rows."""
    toks = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    wf = toks.groupBy("lang", "word").agg(F.count("*").alias("f"))
    return wf.groupBy("lang").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("dis_legomena"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("f") == 1, 1).otherwise(0)),
                1.0 * F.count("*"),
            ),
            6,
        ).alias("hapax_ratio"),
        F.sum("f").cast("long").alias("tokens"),
    )


# --- majority-transition predictor evaluation --------------------------------

EVENT_MARKOV_EVAL_ORACLE = (
    "WITH s AS ("
    "  SELECT user_id, event_type, lead(event_type) OVER ("
    "    PARTITION BY user_id ORDER BY ts, event_id) AS next_type"
    "  FROM events"
    "), tr AS ("
    "  SELECT event_type, next_type, count(*) AS n FROM s "
    "  WHERE next_type IS NOT NULL GROUP BY 1, 2"
    "), pred AS ("
    # majority next-state per antecedent; ties break alphabetically
    "  SELECT event_type, next_type AS predicted, n, row_number() OVER ("
    "    PARTITION BY event_type ORDER BY n DESC, next_type) AS rk"
    "  FROM tr"
    "), tot AS (SELECT event_type, sum(n) AS total FROM tr GROUP BY 1) "
    "SELECT p.event_type, p.predicted, "
    "CAST(p.n AS BIGINT) AS correct, CAST(t.total AS BIGINT) AS total, "
    "round(p.n / (1.0 * t.total), 6) AS accuracy "
    "FROM pred p JOIN tot t ON t.event_type = p.event_type WHERE p.rk = 1"
)


def markov_transitions(spark: SparkSession, sf_dir: str) -> tuple:
    """The shared first-order transition matrix: (event_type, next_type, n)
    counts and per-antecedent totals, transitions ordered by
    (ts, event_id) within user — ONE definition of what a "transition" is
    for both event_markov_eval and event_markov_perplexity (staged_r17);
    the (ts, event_id) tiebreak is the exactness-critical piece a
    hand-synced copy would let drift (r8 review finding 7)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    tr = s.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    tot = tr.groupBy("event_type").agg(F.sum("n").alias("total"))
    return tr, tot


def event_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation of the majority-transition next-event predictor: for
    each antecedent type, predict the most frequent next type (the
    first-order Markov MAP baseline over event_transitions' matrix) and
    report its accuracy — the floor any sequence model must beat, and the
    number that tells you whether fancier session modeling is worth it.

    Transitions order by (ts, event_id) within user — the integer
    tiebreak makes the sequence, hence every count, engine-exact; the
    argmax per antecedent is decided on exact counts with an alphabetical
    tiebreak. Accuracy is one rounded ratio.

    Scale: one user-partitioned window over the event stream (the
    event_sessionize shape), then aggregates over the |types|² transition
    matrix — a constant-size frame."""
    tr, tot = markov_transitions(spark, sf_dir)
    rk = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "next_type"
    )
    pred = (
        tr.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("next_type").alias("predicted"), "n")
    )
    return pred.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "predicted",
        F.col("n").cast("long").alias("correct"),
        F.col("total").cast("long").alias("total"),
        F.round(F.try_divide(F.col("n"), 1.0 * F.col("total")), 6).alias(
            "accuracy"
        ),
    )


DEV_CASES = [
    ("text_bm25", text_bm25, TEXT_BM25_ORACLE),
    ("sim_rrf_hybrid", sim_rrf_hybrid, SIM_RRF_HYBRID_ORACLE),
    ("stat_cramers_v", stat_cramers_v, STAT_CRAMERS_V_ORACLE),
    ("text_hapax", text_hapax, TEXT_HAPAX_ORACLE),
    ("event_markov_eval", event_markov_eval, EVENT_MARKOV_EVAL_ORACLE),
]
