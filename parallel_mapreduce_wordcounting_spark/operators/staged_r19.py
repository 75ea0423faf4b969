"""Concentration / interval-estimation / corpus-structure wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r19.py holds the independent property checks.

Contents:

- ``stat_wilson_ci`` — Wilson score intervals for the per-arm conversion
  rate (variant = user_id % 2, the event_ab_test convention): the
  interval that stays inside [0,1] and behaves at small n / extreme
  rates, where the naive Wald interval collapses — the reporting
  companion to event_ab_test's z machinery.
- ``stat_herfindahl`` — Herfindahl–Hirschman concentration of supplier
  revenue within each nation plus the effective number of suppliers
  (1/HHI): the standard market-concentration screen, dual of agg_gini's
  inequality view.
- ``text_simpson`` — Simpson's diversity of the token distribution per
  language: the repeat-probability D = Σnᵢ(nᵢ−1)/(N(N−1)) and its
  inverse (effective vocabulary size under repetition) — an EXACT
  integer-arithmetic diversity index beside text_entropy's float one.
- ``text_source_overlap`` — pairwise vocabulary Jaccard + containment
  between sources: the dataset-mixing diagnostic ("are src3 and src7
  the same crawl?") that runs on vocabularies, not documents, so it
  stays postings-bounded at any corpus size.
- ``sim_silhouette`` — label-free internal validation of the REGISTERED
  sim_kmeans clustering: simplified silhouette (distance to own vs
  nearest-other centroid) per cluster — the companion to
  sim_cluster_purity, which needs external labels.
- ``pipeline_filter_funnel`` — the curation kill-funnel: four quality
  filters applied in a fixed order with FIRST-FAILING attribution, per
  stage kill counts, share, and survivors — the observability artifact
  every corpus-cleaning pipeline publishes next to its output.

Exactness doctrine: unchanged — exact integer/decimal(38) accumulation
for every order-sensitive sum; doubles only in final reported
expressions rounded ≤6 dp, or in distance/ratio comparisons whose
expression trees are IDENTICAL on both engines (the sim_kmeans
precedent for centroid distances).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Wilson score intervals ----------------------------------------------------

_Z = "1.96"  # shared literal => identical double on both engines

STAT_WILSON_CI_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant, "
    "  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv"
    "  FROM events GROUP BY user_id"
    "), s AS ("
    "  SELECT variant, CAST(count(*) AS BIGINT) AS n_users, "
    "  CAST(sum(conv) AS BIGINT) AS n_conv FROM u GROUP BY variant"
    ") SELECT variant, n_users, n_conv, "
    "round(n_conv / (1.0 * n_users), 6) AS rate, "
    f"round((n_conv / (1.0 * n_users) + {_Z} * {_Z} / (2.0 * n_users) "
    f"  - {_Z} * sqrt(n_conv / (1.0 * n_users) "
    f"      * (1 - n_conv / (1.0 * n_users)) / n_users "
    f"      + {_Z} * {_Z} / (4.0 * n_users * n_users))) "
    f" / (1 + {_Z} * {_Z} / (1.0 * n_users)), 6) AS wilson_lo, "
    f"round((n_conv / (1.0 * n_users) + {_Z} * {_Z} / (2.0 * n_users) "
    f"  + {_Z} * sqrt(n_conv / (1.0 * n_users) "
    f"      * (1 - n_conv / (1.0 * n_users)) / n_users "
    f"      + {_Z} * {_Z} / (4.0 * n_users * n_users))) "
    f" / (1 + {_Z} * {_Z} / (1.0 * n_users)), 6) AS wilson_hi "
    "FROM s"
)


def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% intervals for per-arm user conversion (variant =
    user_id % 2, conversion = any purchase — event_ab_test's cohort
    definition, staged_r8.py). The Wald interval p̂ ± z√(p̂(1−p̂)/n)
    collapses to zero width at p̂∈{0,1} and escapes [0,1] at small n;
    Wilson inverts the score test instead, which is why every serious
    experimentation stack reports it.

    Exactness: the sufficient statistics are exact integers (one
    map-side-combining per-user aggregate, then per-arm counts); rate
    and both bounds are single double expression trees with z as a
    shared literal — bit-identical cross-engine — rounded 6 dp.

    Scale: identical profile to event_ab_test — the event stream
    collapses to per-user rows, then to 2 sufficient-statistic rows."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).cast("long").alias("variant"), "conv")
    )
    s = u.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("conv").alias("n_conv")
    )
    z = F.lit(float(_Z))
    n = F.col("n_users")
    p = F.col("n_conv") / (1.0 * n)
    center = p + z * z / (2.0 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / (1.0 * n)
    return s.select(
        "variant",
        "n_users",
        "n_conv",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


# --- Herfindahl-Hirschman concentration ----------------------------------------

STAT_HERFINDAHL_ORACLE = (
    "WITH sup AS ("
    "  SELECT s.s_nationkey, l.l_suppkey, "
    f"  CAST(sum({money_cents_sql('l.l_extendedprice')}) AS HUGEINT) AS rev"
    "  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey"
    "  GROUP BY s.s_nationkey, l.l_suppkey"
    "), agg AS ("
    "  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers, "
    "  CAST(sum(rev) AS HUGEINT) AS s1, "
    "  CAST(sum(rev * rev) AS HUGEINT) AS s2"
    "  FROM sup GROUP BY s_nationkey"
    ") SELECT n.n_name AS nation, a.n_suppliers, "
    "round(CAST(a.s1 AS DOUBLE) / 100.0, 2) AS revenue, "
    "round(CAST(a.s2 AS DOUBLE) / (CAST(a.s1 AS DOUBLE) "
    "    * CAST(a.s1 AS DOUBLE)), 6) AS hhi, "
    "round(CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE) "
    "    / CAST(a.s2 AS DOUBLE), 6) AS effective_n "
    "FROM agg a JOIN nation n ON n.n_nationkey = a.s_nationkey"
)


def stat_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration per
    nation: HHI = Σ(sᵢ/S)² over supplier shares, plus the effective
    number of suppliers 1/HHI — "is this market one whale or many
    minnows?", the concentration dual of agg_gini's inequality view
    (antitrust thresholds: >0.25 concentrated, <0.15 competitive).

    Exactness: supplier revenues are exact integer cents; HHI = Σsᵢ²/S²
    needs only the two decimal(38)/HUGEINT sufficient statistics Σsᵢ²
    and (Σsᵢ)² — shares never materialize as floats — and the two
    reported ratios are single double expressions rounded 6 dp.

    Scale: lineitem joins the broadcast supplier dim, collapses to one
    row per supplier (map-side combine), then to one row per nation;
    the nation-name join broadcasts 25 rows. Nothing wider than
    (nationkey, suppkey) ever shuffles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", money_cents(F.col("l_extendedprice")).alias("cents")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    per_sup = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("cents").cast(_D38).alias("rev"))
    )
    agg = per_sup.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rev").cast(_D38).alias("s1"),
        F.sum(F.col("rev") * F.col("rev")).cast(_D38).alias("s2"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    return (
        agg.join(
            F.broadcast(nation), agg["s_nationkey"] == nation["n_nationkey"]
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.round(s1d / 100.0, 2).alias("revenue"),
            F.round(s2d / (s1d * s1d), 6).alias("hhi"),
            F.round(s1d * s1d / s2d, 6).alias("effective_n"),
        )
    )


# --- Simpson's diversity of the token distribution ------------------------------

TEXT_SIMPSON_ORACLE = (
    "WITH tok AS ("
    "  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents"
    "), cnt AS ("
    "  SELECT lang, w, CAST(count(*) AS HUGEINT) AS n FROM tok GROUP BY 1, 2"
    "), s AS ("
    "  SELECT lang, CAST(sum(n) AS HUGEINT) AS nn, "
    "  CAST(count(*) AS BIGINT) AS n_types, "
    "  CAST(sum(n * (n - 1)) AS HUGEINT) AS rep2 FROM cnt GROUP BY lang"
    ") SELECT lang, CAST(nn AS BIGINT) AS n_tokens, n_types, "
    "round(CAST(rep2 AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE), 6) "
    "  AS simpson_d, "
    "round(CAST(nn * (nn - 1) AS DOUBLE) / CAST(rep2 AS DOUBLE), 6) "
    "  AS inv_simpson "
    "FROM s WHERE nn >= 2 AND rep2 > 0"
)


def text_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index of the token distribution per language:
    D = Σnᵢ(nᵢ−1)/(N(N−1)) is the probability two tokens drawn WITHOUT
    replacement are the same type; 1/D is the effective vocabulary size
    under repetition. Beside text_entropy (which weights rare types
    logarithmically and needs float logs per type), Simpson's D weights
    dominant types quadratically and is EXACT — two integer sufficient
    statistics decide it.

    Tokenization: split on single space (string_split convention of
    text_readability / pipeline_dpo_pairs — empty tokens from doubled
    spaces count identically on both engines).

    Exactness: N and Σnᵢ(nᵢ−1) accumulate in decimal(38)/HUGEINT; the
    two reported ratios are single double expressions rounded 6 dp.
    Degenerate guards: languages with N<2 or no repeated type (rep2=0,
    undefined 1/D) are excluded on both engines.

    Scale: one (lang, token) map-side-combining aggregate absorbs the
    token stream; per-language rows thereafter. The vocabulary-sized
    intermediate is the same shape text_tfidf already broadcasts."""
    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    cnt = tok.groupBy("lang", "w").agg(F.count("*").cast(_D38).alias("n"))
    s = cnt.groupBy("lang").agg(
        F.sum("n").cast(_D38).alias("nn"),
        F.count("*").alias("n_types"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast(_D38).alias("rep2"),
    )
    nn, rep2 = F.col("nn"), F.col("rep2")
    pairs = (nn * (nn - 1)).cast("double")
    return s.where((nn >= 2) & (rep2 > 0)).select(
        "lang",
        nn.cast("long").alias("n_tokens"),
        "n_types",
        F.round(rep2.cast("double") / pairs, 6).alias("simpson_d"),
        F.round(pairs / rep2.cast("double"), 6).alias("inv_simpson"),
    )


# --- pairwise source vocabulary overlap -----------------------------------------

TEXT_SOURCE_OVERLAP_ORACLE = (
    "WITH post AS ("
    "  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w"
    "  FROM documents"
    "), vocab AS ("
    "  SELECT source, CAST(count(*) AS BIGINT) AS nv FROM post GROUP BY 1"
    "), inter AS ("
    "  SELECT a.source AS source_a, b.source AS source_b, "
    "  CAST(count(*) AS BIGINT) AS n_common"
    "  FROM post a JOIN post b ON a.w = b.w AND a.source < b.source"
    "  GROUP BY 1, 2"
    ") SELECT i.source_a, i.source_b, va.nv AS n_a, vb.nv AS n_b, "
    "i.n_common, "
    "round(i.n_common / (1.0 * (va.nv + vb.nv - i.n_common)), 6) AS jaccard, "
    "round(i.n_common / (1.0 * least(va.nv, vb.nv)), 6) AS containment "
    "FROM inter i "
    "JOIN vocab va ON va.source = i.source_a "
    "JOIN vocab vb ON vb.source = i.source_b"
)


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources — Jaccard and
    containment of the DISTINCT-token sets for every source pair: the
    dataset-mixing diagnostic that flags two "different" crawls sharing
    a vocabulary (near-identical upstream corpus) before deduplication
    even runs. Containment catches the asymmetric case (a source that is
    a subset of a bigger one) that Jaccard dilutes — the
    dedup_containment insight applied at SOURCE granularity.

    Exactness: all three set sizes are exact integers from one distinct
    (source, token) postings build and one postings self-join; the two
    ratios are single double expressions rounded 6 dp.

    Scale: the self-join runs on the POSTINGS (vocabulary × sources),
    not documents — the dedup_ngram_jaccard shape: pairs materialize
    only for shared tokens, cost Σ over tokens of (#sources carrying
    it)², bounded by #sources² per token, never #docs²."""
    post = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )
    vocab = post.groupBy("source").agg(F.count("*").alias("nv"))
    a = post.select(F.col("source").alias("source_a"), "w")
    b = post.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    va = vocab.select(
        F.col("source").alias("source_a"), F.col("nv").alias("n_a")
    )
    vb = vocab.select(
        F.col("source").alias("source_b"), F.col("nv").alias("n_b")
    )
    cm = F.col("n_common")
    return (
        inter.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                cm / (1.0 * (F.col("n_a") + F.col("n_b") - cm)), 6
            ).alias("jaccard"),
            F.round(cm / (1.0 * F.least("n_a", "n_b")), 6).alias(
                "containment"
            ),
        )
    )


# --- simplified silhouette over the registered k-means --------------------------


def _kmeans_distances_oracle() -> tuple[str, str]:
    """Split the REGISTERED sim_kmeans oracle into (CTE prefix, final
    select): the prefix re-derives ``d2_`` (every vector's squared
    distance to every FINAL centroid) and ``a2`` (the assignment), which
    silhouette needs and the kmeans output alone cannot provide."""
    from .similarity_ext import SIM_KMEANS_ORACLE

    marker = ") SELECT vec_id,"
    prefix, tail = SIM_KMEANS_ORACLE.rsplit(marker, 1)
    assert "a2 AS" in prefix and "d2_" in prefix, "kmeans oracle reshaped"
    return prefix + ") ", tail


SIM_SILHOUETTE_ORACLE = (
    _kmeans_distances_oracle()[0]
    + ", ranked AS ("
    "  SELECT vec_id, cid, d2, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk"
    "  FROM d2_"
    "), sil AS ("
    # quantize each silhouette to integer MICRO-units: the per-cluster
    # sum is then exact in any accumulation order (a raw double mean
    # flipped the 6th decimal between engines at sf0.01)
    "  SELECT r1.vec_id, r1.cid AS cluster, "
    "  CAST(round(1000000 * CASE WHEN sqrt(r2.d2) = 0 THEN 0.0 "
    "        ELSE (sqrt(r2.d2) - sqrt(r1.d2)) / sqrt(r2.d2) END) "
    "    AS BIGINT) AS sm"
    "  FROM ranked r1 JOIN ranked r2 "
    "    ON r2.vec_id = r1.vec_id AND r1.rk = 1 AND r2.rk = 2"
    ") SELECT CAST(cluster AS INTEGER) AS cluster, "
    "CAST(count(*) AS BIGINT) AS n_vecs, "
    "round(CAST(sum(sm) AS DOUBLE) / (1000000.0 * count(*)), 6) "
    "  AS mean_silhouette, "
    "round(min(sm) / 1000000.0, 6) AS min_silhouette "
    "FROM sil GROUP BY cluster"
)


def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free internal validation of the REGISTERED sim_kmeans
    clustering: simplified silhouette s = (b−a)/max(a,b) per vector,
    with a = distance to the OWN (nearest) final centroid and b =
    distance to the nearest OTHER centroid — the O(n·K) surrogate for
    the O(n²) full silhouette (the only form that scales), aggregated
    per cluster. sim_cluster_purity needs external labels; silhouette
    answers the same "are these clusters real?" question without them.

    Composes sim_kmeans' exact trajectory: the same deterministic
    seeding, 2 Lloyd iterations and 6-dp centroid rounding (the oracle
    re-derives the distance table by extending the registered SQL's CTE
    chain — see _kmeans_distances_oracle), so a = √(min d²) matches the
    registered assignment bit-for-bit; ranking ties break on cid exactly
    as sim_kmeans' struct-min does. Per-vector s quantizes to integer
    MICRO-units before the per-cluster mean, making the sum exact in any
    accumulation order (a raw double mean flipped the 6th decimal
    between engines at sf0.01 — caught in development, fixed by the
    exact.py doctrine: quantize terms, sum integers).

    Scale: one broadcast join against K×64 centroid rows, one
    (vec_id, cid) aggregate, one K-row-per-vector window — linear in
    the corpus, exactly the sim_kmeans profile plus a rank."""
    from .similarity_ext import KMEANS_K, _km_assign

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ev = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    w = Window.orderBy("vec_id")
    seed = (
        e.orderBy("vec_id")
        .limit(KMEANS_K)
        .withColumn("cid", F.row_number().over(w) - 1)
    )
    c0 = seed.select(
        "cid",
        F.posexplode(F.transform("v", lambda x: F.round(x, 6))).alias(
            "pos", "c"
        ),
    )
    a1 = _km_assign(ev, c0)
    c1 = (
        a1.select("vec_id", F.col("m.cid").alias("cid"))
        .join(ev, "vec_id")
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    d = (
        ev.join(F.broadcast(c1), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.pow(F.col("x") - F.col("c"), 2)).alias("d2"))
    )
    rw = Window.partitionBy("vec_id").orderBy("d2", "cid")
    ranked = d.withColumn("rk", F.row_number().over(rw))
    r1 = ranked.where(F.col("rk") == 1).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d2").alias("a2")
    )
    r2 = ranked.where(F.col("rk") == 2).select(
        "vec_id", F.col("d2").alias("b2")
    )
    s = r1.join(r2, "vec_id").select(
        "cluster",
        # integer micro-units => exact per-cluster sums in any order
        F.round(
            1000000
            * F.when(F.sqrt("b2") == 0, 0.0).otherwise(
                (F.sqrt("b2") - F.sqrt("a2")) / F.sqrt("b2")
            ),
            0,
        )
        .cast("long")
        .alias("sm"),
    )
    return s.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum("sm").cast("double") / (1000000.0 * F.count("*")), 6
        ).alias("mean_silhouette"),
        F.round(F.min("sm") / 1000000.0, 6).alias("min_silhouette"),
    )


# --- curation filter funnel -----------------------------------------------------

# fixed filter order; FIRST failing filter claims the document
_FUNNEL_STAGES = ["too_short", "markup", "low_diversity", "word_length", "kept"]

PIPELINE_FILTER_FUNNEL_ORACLE = (
    "WITH scored AS ("
    "  SELECT doc_id, "
    "  len(string_split(text, ' ')) AS n_words, "
    "  len(list_distinct(string_split(text, ' '))) AS n_types, "
    "  list_sum(list_transform(string_split(text, ' '), w -> len(w))) "
    "    AS n_chars_w, "
    "  instr(text, '<') > 0 AND instr(text, '>') > 0 AS has_markup"
    "  FROM documents"
    "), labeled AS ("
    "  SELECT CASE "
    "  WHEN n_words < 30 THEN 'too_short' "
    "  WHEN has_markup THEN 'markup' "
    "  WHEN n_types < 0.3 * n_words THEN 'low_diversity' "
    "  WHEN n_chars_w < 3.0 * n_words OR n_chars_w > 12.0 * n_words "
    "    THEN 'word_length' "
    "  ELSE 'kept' END AS stage FROM scored"
    "), idx AS ("
    "  SELECT * FROM (VALUES (0, 'too_short'), (1, 'markup'), "
    "  (2, 'low_diversity'), (3, 'word_length'), (4, 'kept')) "
    "    v(stage_idx, stage)"
    "), cnt AS ("
    "  SELECT i.stage_idx, i.stage, "
    "  CAST(count(l.stage) AS BIGINT) AS n_docs"
    "  FROM idx i LEFT JOIN labeled l ON l.stage = i.stage"
    "  GROUP BY 1, 2"
    "), tot AS (SELECT sum(n_docs) AS total FROM cnt) "
    "SELECT c.stage_idx, c.stage, c.n_docs, "
    "round(c.n_docs / (1.0 * nullif(t.total, 0)), 6) AS share, "
    "CAST(t.total - sum(CASE WHEN c.stage <> 'kept' THEN c.n_docs "
    "  ELSE 0 END) OVER (ORDER BY c.stage_idx "
    "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_remaining "
    "FROM cnt c, tot t"
)


def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation kill-funnel: four deterministic quality filters in a
    FIXED order — too_short (<30 tokens), markup ('<' and '>' present),
    low_diversity (type-token ratio <0.3), word_length (mean token
    length <3 or >12) — with first-failing attribution, per-stage kill
    counts, corpus share, and the survivor count after each stage. This
    is the observability artifact every corpus-cleaning pipeline
    publishes: pipeline_curate applies filters, the funnel explains WHERE
    the data went (a filter suddenly claiming 40% is the pager alert).

    All five stages always appear (zero-count rows included) so the
    funnel schema is stable for dashboards; avg word length compares via
    cross-multiplied integers (n_chars vs 3·n_words) — no division
    decides a filter.

    Exactness: every filter decides on exact integers; share is one
    double division rounded 6 dp; survivors are a running INTEGER sum
    over the 5 ordered stage rows (bounded global window, allowlisted).

    Scale: one pass over documents computing per-doc integers, one
    5-bucket aggregate — map-side combining absorbs everything; the
    funnel arithmetic runs on 5 rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "n_types"
        ),
        F.aggregate(
            F.transform(F.split(F.col("text"), " "), F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_w"),
        (
            (F.instr(F.col("text"), "<") > 0)
            & (F.instr(F.col("text"), ">") > 0)
        ).alias("has_markup"),
    )
    labeled = docs.select(
        F.when(F.col("n_words") < 30, "too_short")
        .when(F.col("has_markup"), "markup")
        .when(F.col("n_types") < 0.3 * F.col("n_words"), "low_diversity")
        .when(
            (F.col("n_chars_w") < 3.0 * F.col("n_words"))
            | (F.col("n_chars_w") > 12.0 * F.col("n_words")),
            "word_length",
        )
        .otherwise("kept")
        .alias("stage")
    )
    idx = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_FUNNEL_STAGES)],
        "stage_idx int, stage string",
    )
    cnt = (
        idx.join(
            labeled.groupBy("stage").agg(F.count("*").alias("n_docs")),
            "stage",
            "left",
        )
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
        )
    )
    tot = cnt.agg(F.sum("n_docs").alias("total"))
    w = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn(
            "share",
            F.round(
                F.col("n_docs") / (1.0 * F.nullif(F.col("total"), F.lit(0))),
                6,
            ),
        )
        .withColumn(
            "n_remaining",
            (
                F.col("total")
                - F.sum(
                    F.when(F.col("stage") != "kept", F.col("n_docs")).otherwise(
                        0
                    )
                ).over(w)
            ).cast("long"),
        )
        .select(
            "stage_idx", "stage", "n_docs", "share", "n_remaining"
        )
    )


DEV_CASES = [
    ("stat_wilson_ci", stat_wilson_ci, STAT_WILSON_CI_ORACLE),
    ("stat_herfindahl", stat_herfindahl, STAT_HERFINDAHL_ORACLE),
    ("text_simpson", text_simpson, TEXT_SIMPSON_ORACLE),
    ("text_source_overlap", text_source_overlap, TEXT_SOURCE_OVERLAP_ORACLE),
    ("sim_silhouette", sim_silhouette, SIM_SILHOUETTE_ORACLE),
    (
        "pipeline_filter_funnel",
        pipeline_filter_funnel,
        PIPELINE_FILTER_FUNNEL_ORACLE,
    ),
]
