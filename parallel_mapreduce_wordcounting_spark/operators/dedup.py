"""Deduplication operators for an LLM data pipeline — exact, MinHash+LSH,
n-gram Jaccard, SimHash, embedding-cosine.

Similarity definition (probed on the fixture 2026-08-13): Jaccard over
DISTINCT TOKEN TRIGRAM SHINGLES. The fixture's 31-token vocabulary makes
unigram-set Jaccard useless (9k pairs ≥ 0.9 at sf0.01 from vocabulary overlap
alone); trigram shingles are cleanly bimodal — planted near-dups at J ≈ 0.99,
everything else < 0.2 — so THRESHOLD = 0.6 sits in an empty gap.

MinHash/LSH parameters: H = 128 hashes, b = 32 bands × r = 4 rows. Collision
probability 1-(1-J^r)^b: at J = 0.99 it is 1-6e-50, at J = 0.6 it is 0.988,
at J = 0.2 (the top of the background noise) a band collides with p = 0.0016
— false candidates are cheap because every candidate is verified with exact
Jaccard before output, which also keeps the DuckDB oracle expressible as
brute-force exact Jaccard (the textbook construction: Broder '97, MMDS ch.3).

100 TB notes: the LSH path is the scale story — band buckets shuffle on
(band_id, band_key) so candidate generation is linear-ish in corpus size,
never all-pairs; only the verify join touches shingle arrays, and only for
candidates. The brute-force forms (dedup_ngram_jaccard, dedup_embedding)
exist as small-SF oracles and would be replaced by their LSH/blocked
counterparts at scale.
"""

from __future__ import annotations

import pandas as pd  # module-level: the pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from ..registry import REGISTRY, register
from ..sources.loader import load_table

JACCARD_THRESHOLD = 0.6
N_HASHES = 128
N_BANDS = 32
ROWS_PER_BAND = 4

#: DuckDB CTE producing each doc's distinct trigram-shingle set.
SHINGLES_CTE = (
    "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3)"
)

_ORACLE_PAIR_JACCARD = (
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
    "len(list_distinct(list_concat(a.s, b.s)))"
)


def oracle_jaccard_pairs_select(tau: float, a: str = "da", b: str = "db") -> str:
    """SELECT body of the exact all-pairs-Jaccard ≥ ``tau`` CTE over the
    ``sh(doc_id, s)`` shingle CTE — the INVERTED-INDEX form of the same
    spec (round 14; the oracles are part of the optimization surface).

    Value-identical to the ``sh a JOIN sh b ON a.doc_id < b.doc_id WHERE
    {_ORACLE_PAIR_JACCARD} >= tau`` form it replaces: ``s`` lists are
    distinct per doc, so the equi-join group count c = |A∩B| =
    ``len(list_intersect(a.s, b.s))`` exactly, the union is
    |A|+|B|−c = ``len(list_distinct(list_concat(a.s, b.s)))`` exactly
    (integer arithmetic, so the double division and every comparison are
    bit-identical), and pairs with c = 0 — absent from the equi-join —
    have J = 0 < tau and were never emitted by the old form either.
    The old form compared every doc pair (O(n²) ``list_intersect``
    calls — measured 48–55 s per oracle at sf0.001, and every graph-
    family oracle embeds one); this form enumerates only co-occurring
    pairs (O(Σ df²)) — measured 0.6 s for the same result. Cross-checked
    against the old form for every affected key at sf0.001 and sf0.01
    (OPTIMIZATION_r14.md), and independently against the in-test
    brute-force truths (tests/test_staged_r{25,29,33,35,36}.py still
    derive their references from ``_ORACLE_PAIR_JACCARD``).
    Self-contained subqueries — introduces no CTE names."""
    return (
        f"SELECT x.doc_id AS {a}, y.doc_id AS {b} "
        "FROM (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) x "
        "JOIN (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) y "
        "ON x.w = y.w AND x.doc_id < y.doc_id "
        "GROUP BY 1, 2, x.n, y.n "
        f"HAVING CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)) >= {tau}"
    )


def oracle_jaccard_pairs_valued_select(
    tau: float, a: str = "doc_id_a", b: str = "doc_id_b", j: str = "jaccard"
) -> str:
    """:func:`oracle_jaccard_pairs_select` additionally emitting
    ``round(J, 6)`` — for the pair-valued oracles. Same exactness
    argument; the rounded value divides the same integers as the old
    expression, so it is bit-identical."""
    return (
        f"SELECT x.doc_id AS {a}, y.doc_id AS {b}, "
        f"round(CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)), 6) AS {j} "
        "FROM (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) x "
        "JOIN (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) y "
        "ON x.w = y.w AND x.doc_id < y.doc_id "
        "GROUP BY 1, 2, x.n, y.n "
        f"HAVING CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)) >= {tau}"
    )


def _make_minhash_sig():
    """Build the Arrow-batched MinHash signature UDF (lazy import shield)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # Fixed multiply-xorshift mixers (seeded, deterministic across runs).
    rs = np.random.RandomState(0x5EED)
    mult = rs.randint(1, 2**62, size=N_HASHES).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    add = rs.randint(0, 2**62, size=N_HASHES).astype(np.uint64)
    fmix = np.uint64(0xFF51AFD7ED558CCD)
    s33 = np.uint64(33)

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig(hs: pd.Series) -> pd.Series:
        def sig(h0) -> np.ndarray:
            h = np.asarray(h0, dtype=np.int64).astype(np.uint64)
            m = h[:, None] * mult[None, :] + add[None, :]
            m ^= m >> s33
            m *= fmix
            m ^= m >> s33
            return m.min(axis=0).astype(np.int64)

        return hs.apply(sig)

    return minhash_sig


_minhash_sig = _make_minhash_sig()


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct token trigrams per doc."""
    return shingle_sets_of(load_table(spark, sf_dir, "documents"))


def shingle_sets_of(docs: DataFrame) -> DataFrame:
    """Shingle sets over an arbitrary ``(doc_id, text, ...)`` DataFrame — the
    pipeline entry point (corpus curation shingles only its gate-surviving
    subset, not the whole table)."""
    t = F.split(F.lower("text"), " ")
    return (
        docs.select("doc_id", t.alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i + 1),
                        F.element_at(F.col("t"), i + 2),
                        F.element_at(F.col("t"), i + 3),
                    ),
                )
            ).alias("shingles"),
        )
    )


@register(
    "dedup_exact",
    oracle=(
        "SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies, "
        "min(n_chars) AS n_chars FROM documents GROUP BY text"
    ),
    tier="B",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one row per distinct text, deterministic keeper = min
    doc_id. A hash-groupBy — the content itself never shuffles twice because
    the partial aggregate collapses duplicates map-side. (At 100 TB, group on
    sha2(text,256) instead of the raw text to shrink the shuffle key.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "dedup_fuzzy_minhash",
    oracle=(
        f"{SHINGLES_CTE} "
        f"{oracle_jaccard_pairs_valued_select(JACCARD_THRESHOLD)}"
    ),
    tier="B",
)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via shingle → MinHash → LSH bands → candidate
    pairs → exact-Jaccard verification (see module docstring for the math).

    The oracle is brute-force exact Jaccard over all pairs; with these LSH
    parameters the miss probability above threshold is < 1e-7, so the two
    sides agree. The Spark side never goes all-pairs.
    """
    return near_dup_pairs(shingle_sets(spark, sf_dir))


def near_dup_pairs(sh: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs over any ``(doc_id, shingles)`` DataFrame
    (the reusable core of :func:`dedup_fuzzy_minhash`; corpus curation feeds
    it the gate-surviving subset only)."""
    sh = sh.cache()

    # Each shingle string is hashed to int64 ONCE, JVM-side. The 128 MinHash
    # functions are then derived from that long in a single Arrow-batched
    # pandas UDF: a (shingles × 128) multiply-xorshift in vectorized uint64 —
    # the 128-way expansion is pure fixed-width arithmetic, which numpy does
    # ~20× faster than per-element JVM lambda evaluation.
    hs = sh.select(
        "doc_id", F.transform(F.col("shingles"), lambda s: F.xxhash64(s)).alias("hs")
    )
    sig = hs.select("doc_id", _minhash_sig(F.col("hs")).alias("sig"))

    # Band keys: 32 bands of 4 signature slots, each band compressed to one
    # int64 bucket key (xxhash64 of the 4-slot slice; 2^-64 collisions are
    # re-checked by the exact verify anyway). Bucket join on (band, key).
    bands = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda j: F.struct(
                    j.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), j * ROWS_PER_BAND + 1, ROWS_PER_BAND)
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bands = bands.cache()  # self-joined below: compute signatures once

    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )

    # Exact-Jaccard verification of candidates only.
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard_raw",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        "doc_id_a", "doc_id_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


@register(
    "dedup_cluster",
    oracle=(
        f"WITH RECURSIVE tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3), "
        f"pairs AS ({oracle_jaccard_pairs_select(JACCARD_THRESHOLD)}), "
        "edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs), "
        "reach AS ("
        "  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) "
        "  UNION "
        "  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u"
        ") SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u"
    ),
    tier="B",
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the near-dup pair graph,
    labeled by the smallest reachable doc_id (the canonical keeper).

    Iterative min-label propagation: each round every node adopts the min of
    its own and its neighbors' labels; converges in O(graph diameter) rounds
    (near-dup clusters are small cliques, so 2-3 rounds in practice; a
    100 TB corpus would swap in the large-star/small-star variant, which
    shrinks long chains in O(log n) rounds). The convergence check is one
    tiny count per round — the label table itself never leaves the cluster.
    The oracle computes the same components with a recursive CTE.
    """
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = (
        pairs.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
        )
        .distinct()
    )
    labels = min_label_propagation(edges)
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


def min_label_propagation(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components by min-label propagation over an undirected edge
    list (columns ``u``, ``v``; both orientations present). Returns
    ``(u, label)`` with label = min node id reachable from ``u``.

    Converges in O(graph diameter) rounds. Near-dup clusters are small
    cliques (diameter ≤ 2-3); if a pathological chain exceeds ``max_rounds``
    we RAISE rather than silently return partially-propagated (wrong)
    labels — long-chain graphs belong to :func:`star_contraction`
    (large-star/small-star, O(log²) rounds regardless of diameter). Each
    round pins the new label table — this both materializes it AND
    truncates the logical plan, so the returned DataFrame's lineage is one
    checkpoint deep, not O(rounds) joins deep (an un-truncated iterative
    lineage makes every later action replan the whole tree — the audited
    plan string had 822 exchanges). With local checkpoints, memory stays
    O(1) in rounds (superseded checkpoints are GC-reclaimed); reliable
    checkpoints need the cleaner setting named in the ``pins`` module.
    """
    # r14: edges (and the label init) are pinned instead of cached — the
    # cache reused the COMPUTATION but left the full edge-generation
    # subtree inside every round's logical plan, so each round re-planned
    # it (the graph_pagerank finding); the pin truncates it to an
    # ExistingRDD scan. Interleaved A/B on dedup_cluster at sf0.1
    # (output-identical 477 rows): 1.32× geomean, never slower.
    edges = pin(edges)
    labels = pin(edges.select("u").distinct().withColumn("label", F.col("u")))
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = pin(
            labels.join(neighbor_min, "u", "left").select(
                "u",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_propagation did not converge within {max_rounds} rounds "
        f"(graph diameter > {max_rounds}); raise max_rounds or use "
        f"star_contraction"
    )


def star_contraction(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the long-chain-safe counterpart to
    :func:`min_label_propagation`. Input: undirected edge list with BOTH
    orientations present (columns ``u``, ``v``), as produced by
    dedup_cluster's pair expansion. Returns ``(u, label)``, label = min
    node id of the component.

    Per round, with Γ⁺(u) = Γ(u) ∪ {u} and m = min Γ⁺(u):

    - large-star: every neighbor v > u re-attaches to m (emit (v, m)) —
      halves the height of tall subtrees in parallel;
    - small-star: every neighbor v < u, plus u itself, attaches to m —
      collapses the remaining small fringes onto the center.

    Both are ONE groupBy("u") + ONE join each — the same hash shuffle
    layout every round, no broadcast, no driver data. Converges in
    O(log² n) rounds on ANY graph shape (the fixture's path-graph property
    test: diameter-199 chain, 4 rounds), where min-label propagation needs
    O(diameter). Each round pins the canonical edge set to truncate
    lineage (same rationale as min_label_propagation). Fixpoint = the
    canonical (min, max) edge set stops changing; at fixpoint every
    component is a star around its min node, so the label read-off is one
    aggregate."""
    canon = pin(
        edges.where(F.col("u") < F.col("v"))
        .select(F.col("u").alias("a"), F.col("v").alias("b"))
        .distinct()
    )
    nodes = edges.select("u").distinct()  # preserves isolated inputs

    def both(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        g = both(e)
        mins = (
            g.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        return (
            g.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))  # m < u < v
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        g = both(e).where(F.col("v") < F.col("u"))
        mins = g.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        att = g.join(mins, "u")
        out = att.select(F.col("m").alias("a"), F.col("v").alias("b")).unionAll(
            att.select(F.col("m").alias("a"), F.col("u").alias("b")).distinct()
        )
        return (
            out.where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )

    for _ in range(max_rounds):
        new = pin(small_star(large_star(canon)))
        changed = (
            new.subtract(canon).limit(1).count()
            or canon.subtract(new).limit(1).count()
        )
        canon = new
        if changed == 0:
            labels = (
                both(canon)
                .groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("label"))
            )
            # isolated nodes (no surviving edges) label themselves
            return nodes.join(labels, "u", "left").select(
                "u", F.coalesce("label", "u").alias("label")
            )
    raise RuntimeError(
        f"star_contraction did not converge within {max_rounds} rounds"
    )


@register("dedup_cluster_star", oracle=REGISTRY["dedup_cluster"].oracle, tier="B")
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_cluster` computed by :func:`star_contraction` instead of
    min-label propagation — identical output, same recursive-CTE oracle
    (tests additionally assert row-for-row equality between the two
    variants). The variant exists for long-chain duplicate graphs —
    transcript families, boilerplate chains — where propagation rounds
    scale with chain length but star rounds stay O(log²)."""
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = (
        pairs.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
        )
        .distinct()
    )
    labels = star_contraction(edges)
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


@register(
    "dedup_ngram_jaccard",
    oracle=(f"{SHINGLES_CTE} {oracle_jaccard_pairs_valued_select(0.3)}"),
    tier="B",
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (threshold 0.3) via a PREFIX-FILTERED
    inverted-index join — the full AllPairs/PPJoin construction (Bayardo,
    Ma & Srikant, WWW'07; Xiao et al., WWW'08), not just its
    inverted-index core:

    1. global token order = (document frequency ASC, shingle) — rarest
       first, deterministic. One global sort of the shingle counts numbers
       the dictionary in that order, so a shingle's id is its rank and
       each document's sorted id array is its prefix order;
    2. each document indexes only its first ``|a| − ⌈τ·|a|⌉ + 1``
       shingles in that order (its *prefix*). The first shared shingle of
       any pair with J ≥ τ provably sits in BOTH prefixes: were it past
       a's prefix, all shared shingles would fit in a's ⌈τ|a|⌉−1 suffix,
       yet J ≥ τ forces |b| ≥ τ|a| and so an overlap ≥ τ/(1+τ)·(|a|+|b|)
       ≥ τ|a| — contradiction. Prefix⋈prefix therefore yields a candidate
       SUPERSET — the filter is lossless;
    3. a size filter (τ·na ≤ nb, applied under da < db symmetry) prunes
       candidates no Jaccard value could pass;
    4. a PAIR-level positional bound (PPJoin) prunes the rest: with m
       prefix matches whose last sits at 0-based positions (ia, ib),
       every other shared shingle sorts after it in BOTH documents, so
       |A∩B| ≤ m + min(na−1−ia, nb−1−ib), and a pair is kept only if
       that reaches τ/(1+τ)·(na+nb) — the overlap J ≥ τ needs;
    5. candidates are verified with the EXACT Jaccard over the full
       shingle sets (dictionary ids, Arrow kernel) and thresholded.

    Output is bitwise identical to the brute-force oracle — the filter
    changes COST, never the result set. The scale win over the unfiltered
    join (the r9 verdict's one flagged scale-killer here): a boilerplate
    shingle shared by 10⁶ diverse docs is the most FREQUENT token, sorts
    last in every document's order, falls outside every prefix, and
    generates ZERO candidate pairs — where the unfiltered join fanned out
    ~10¹² — while pair output on genuinely near-identical corpora is
    exactly the (irreducibly quadratic) true result set."""
    return ngram_jaccard_pairs_of(shingle_sets(spark, sf_dir), threshold)


def _shingle_id_sets(sh: DataFrame) -> DataFrame:
    """Dictionary-encode a (pinned) shingle-set frame into ``(doc_id,
    ids)``, ``ids`` the document's shingle ids sorted ascending.

    The dictionary is a word count: ``groupBy(shingle)`` gives each
    shingle's document frequency df, and one global sort on (df ASC,
    shingle ASC) numbers the shingles — ``monotonically_increasing_id``
    after a sort is unique and increasing in sort order (bigint, at most
    about #partitions·2³³). So the sid IS the AllPairs prefix order
    (rarest first, ties by shingle: a total order), and each document's
    ascending ``ids`` is at once its prefix order — whose leading slice
    :func:`prefix_postings` indexes — and the sorted input the Arrow
    verify kernel (:func:`_pair_intersect_counts`) merge-intersects
    without re-sorting.

    Verifying on ids rather than ``array<string>`` keeps the step exact
    and cheap: the shingle→sid map is a bijection (one dictionary row per
    shingle), so |A∩B| and |A|/|B| are preserved with no collision
    caveat at any scale, while a string verify hashed ~|A|+|B| UTF8
    strings per pair (5.67 s of a 7.7 s query at sf0.1, round 13).
    tests/test_round14.py pins the dictionary contract and output
    identity against a string-array verify on a planted corpus."""
    posts = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    dct = (
        posts.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .orderBy("df", "shingle")
        .select("shingle", F.monotonically_increasing_id().alias("sid"))
    )
    # pinned: range bounds and monotonically_increasing_id may change on
    # recompute, so every consumer must read one materialization
    return pin(
        posts.join(dct, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sid")).alias("ids"))
    )


def prefix_postings(sh_ids: DataFrame, tau: float) -> DataFrame:
    """The AllPairs prefix index of a :func:`_shingle_id_sets` frame:
    postings ``(doc_id, n, pos, sid)`` for each document's first
    ``|a| − ⌈τ·|a|⌉ + 1`` ids — its ``ids`` are sorted in the global
    prefix order (df ASC, shingle ASC), because the sid is that rank —
    with ``n`` = |a| and ``pos`` the 0-based position in ``ids``. Both
    pair engines build their candidates from it: the Jaccard engine joins
    it to itself, the containment engine joins it to the full postings of
    the larger side. A shingle shared by every document is the most
    frequent id, sorts last in every ``ids`` and so never enters it
    (tests/test_round10.py, tests/test_round11.py)."""
    n = F.size("ids")
    # the 1e-9 backs the product off fp overshoot (a τ·n that lands just
    # above its true integer value would ceil one too high and truncate
    # the prefix LOSSILY; undershoot only lengthens it)
    plen = (n - F.ceil(tau * n - 1e-9) + 1).cast("int")
    return sh_ids.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("ids", 1, plen)).alias("pos", "sid"),
    )


def _pair_intersect_counts(batches):
    """Arrow verify kernel: exact |A∩B| per candidate pair over SORTED
    dictionary-id arrays (columns ``doc_id_a, doc_id_b, sa, sb`` →
    ``doc_id_a, doc_id_b, na, nb, c``).

    One `np.searchsorted` membership probe replaces the JVM
    `array_intersect`, which the r13 plan evaluated per pair 2–3 times
    (once inside the pushed join condition's numerator, once in its
    denominator, once in the `c` projection — plans/r13/
    dedup_ngram_jaccard_after.txt nodes 24–25). Packing
    (pair_idx, id) into one int64 key keeps the probe a single
    vectorized call per batch; the pack is collision-free while
    batch_rows · (max sid + 1) < 2⁶² (asserted). The dictionary's sids
    are ``monotonically_increasing_id`` ranks, at most about
    #partitions·2³³, so at the default 10k-row Arrow batch the bound
    holds up to ~50,000 dictionary partitions. Counts are EXACT set
    intersections only under the PRECONDITION that each array is
    duplicate-free: every element of ``sa`` found in ``sb`` is counted,
    once per occurrence, and ``na``/``nb`` are raw array lengths. The
    Jaccard and containment engines' inputs satisfy it (ids unique per
    doc, arrays sorted ascending by construction in
    :func:`_shingle_id_sets`, given duplicate-free shingle sets); the
    Jaccard and containment arithmetic itself stays in Spark SQL so the
    rounding/threshold expressions are byte-identical to the r13 form. Peak memory is bounded by the Arrow
    batch size (~10k pairs · ~2·|set| ids · 8 B ≈ tens of MB), not by
    the partition."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        sa, sb = b.column("sa"), b.column("sb")
        la = pc.list_value_length(sa).to_numpy().astype(np.int64)
        lb = pc.list_value_length(sb).to_numpy().astype(np.int64)
        va = sa.flatten().to_numpy().astype(np.int64, copy=False)
        vb = sb.flatten().to_numpy().astype(np.int64, copy=False)
        # loud guard (ADVICE r13): candidates always carry non-empty sets
        # (every doc has ≥1 shingle); fail fast if an upstream change
        # ever emits an empty one rather than mis-counting silently
        assert (la > 0).all() and (lb > 0).all(), "empty shingle set in verify"
        pair_a = np.repeat(np.arange(n, dtype=np.int64), la)
        pair_b = np.repeat(np.arange(n, dtype=np.int64), lb)
        v_bound = np.int64(max(va.max(initial=0), vb.max(initial=0))) + 1
        assert int(n) * int(v_bound) < (1 << 62), "pair-key packing overflow"
        ka = pair_a * v_bound + va  # sorted: rows in order, ids sorted in-row
        kb = pair_b * v_bound + vb
        idx = np.searchsorted(kb, ka)
        idx_c = np.minimum(idx, len(kb) - 1)
        mask = (idx < len(kb)) & (kb[idx_c] == ka)
        c = np.bincount(pair_a[mask], minlength=n)
        yield pa.record_batch(
            [
                b.column("doc_id_a"),
                b.column("doc_id_b"),
                pa.array(la.astype(np.int32)),
                pa.array(lb.astype(np.int32)),
                pa.array(c.astype(np.int32)),
            ],
            names=["doc_id_a", "doc_id_b", "na", "nb", "c"],
        )


_INTERSECT_SCHEMA = "doc_id_a long, doc_id_b long, na int, nb int, c int"


def ngram_jaccard_pairs_of(sh: DataFrame, tau: float) -> DataFrame:
    """Exact Jaccard pairs ≥ ``tau`` over a shingle-set frame — the
    prefix-filtered engine behind :func:`dedup_ngram_jaccard` (docstring
    there), reusable over any (doc_id, shingles) input whose shingle
    arrays are duplicate-free. That precondition is the caller's: the
    verify kernel (:func:`_pair_intersect_counts`) counts every matching
    occurrence, so a repeated shingle would inflate |A∩B| and |A|.

    The shingle frame is pinned first (the r11
    ``containment_pairs_of`` lesson): the dictionary build
    and the id re-key join inside :func:`_shingle_id_sets` are separate
    plan branches over it, and without pinning each re-runs the full
    document scan + shingle build. Output identical (plan-only); r13 A/B
    at sf0.1 (min of 3, same session, output-identical 256 pairs):
    16.2 s unpinned vs 7.6 s pinned (~2.1×).

    Candidates come from the pinned id sets alone: each document's prefix
    is the leading slice of its ``ids`` (:func:`prefix_postings`; the sid
    is the rank in the global (df ASC, shingle ASC) order, a total order,
    so the prefix filter stays lossless), posexploded so every posting
    carries its 0-based position.
    The prefix self-join's rows are grouped per pair on the exchange the
    candidate ``distinct`` used to take, counting the matches ``m`` and
    keeping the last matched positions (ia, ib); only a pair whose bound
    ``m + min(na−1−ia, nb−1−ib)`` reaches τ/(1+τ)·(na+nb) goes on to the
    verify (:func:`dedup_ngram_jaccard` step 4). The bound is per PAIR:
    the r13 per-join-row form, rejected as a wash, kept a pair alive
    through its first and loosest match. Output identical (1,419 pairs on
    the bench corpus at seed 1): 94,046 → 41,714 verified candidates and
    20 → 15 Spark jobs per query.

    Earlier physical changes, each verified output-identical (256 pairs at
    sf0.1, interleaved A/Bs in OPTIMIZATION_r13.md / OPTIMIZATION_r14.md):
    exact verification on dictionary-encoded sets instead of string
    arrays (md5-hash join keys measured SLOWER: 8.3–9.2 s vs 7.7 s); and
    ONE Arrow kernel pass per pair
    (:func:`_pair_intersect_counts`) instead of the JVM `array_intersect`
    the r13 plan evaluated 2–3× per pair. The Jaccard
    division/threshold/rounding expressions are unchanged."""
    sh_ids = _shingle_id_sets(pin(sh))
    prefix = prefix_postings(sh_ids, tau)

    def side(s: str) -> DataFrame:
        return prefix.select(
            F.col("doc_id").alias(f"doc_id_{s}"),
            "sid",
            F.col("n").alias(f"n{s}"),
            F.col("pos").alias(f"pos_{s}"),
        )

    na, nb = F.col("na"), F.col("nb")
    cand = (
        side("a")
        .join(side("b"), "sid")
        .where(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            # size filter: J ≥ τ needs τ·max(na,nb) ≤ min(na,nb); the
            # 1e-9 back-off keeps fp overshoot from pruning a boundary pair
            & (tau * F.greatest(na, nb) - 1e-9 <= F.least(na, nb))
        )
        .groupBy("doc_id_a", "doc_id_b", "na", "nb")
        .agg(
            F.count("*").alias("m"),
            F.max("pos_a").alias("ia"),
            F.max("pos_b").alias("ib"),
        )
        # positional bound (dedup_ngram_jaccard step 4): the most |A∩B| can
        # be must still reach the overlap J ≥ τ needs; same 1e-9 back-off
        .where(
            F.col("m") + F.least(na - 1 - F.col("ia"), nb - 1 - F.col("ib"))
            >= tau / (1 + tau) * (na + nb) - 1e-9
        )
        .select("doc_id_a", "doc_id_b")
    )
    return (
        cand.join(
            sh_ids.select(F.col("doc_id").alias("doc_id_a"), F.col("ids").alias("sa")),
            "doc_id_a",
        )
        .join(
            sh_ids.select(F.col("doc_id").alias("doc_id_b"), F.col("ids").alias("sb")),
            "doc_id_b",
        )
        .select("doc_id_a", "doc_id_b", "sa", "sb")
        .mapInArrow(_pair_intersect_counts, _INTERSECT_SCHEMA)
        .withColumn(
            "jaccard_raw",
            F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")),
        )
        .where(F.col("jaccard_raw") >= tau)
        .select("doc_id_a", "doc_id_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# 60-bit md5-derived token hash, identical on both engines: the first 15
# hex chars of md5(token) parsed as an integer. 15 chars (not 16) keeps the
# value < 2^60, inside signed int64 on BOTH engines with no unsigned-wrap
# divergence; Spark parses with conv(hex, 16, 10), DuckDB (which has no
# conv) with an exact shift-sum over the hex digits — all-integer, no
# double precision loss (verified equal to Python's int(md5[:15], 16)).
SIMHASH_BITS = 60

_ORACLE_TOKEN_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

# Shared fingerprint pipeline (doc_id, simhash) as DuckDB CTEs — the exact
# spec of dedup_simhash below, reused by dedup_simhash_pairs' oracle.
ORACLE_SIMHASH_FP = (
    "WITH t AS ("
    "  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w"
    "  FROM documents"
    f"), h AS (SELECT doc_id, CAST({_ORACLE_TOKEN_H60} AS BIGINT) AS h FROM t), "
    "v AS ("
    "  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote"
    f"  FROM h CROSS JOIN range(0, {SIMHASH_BITS}) r(b) GROUP BY doc_id, b"
    "), fp AS ("
    "  SELECT doc_id, CAST(sum(CASE WHEN vote > 0 "
    "  THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash"
    "  FROM v GROUP BY doc_id"
    ")"
)


@register(
    "dedup_simhash",
    oracle=f"{ORACLE_SIMHASH_FP} SELECT doc_id, simhash FROM fp",
    tier="B",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints, hash-oracled: per doc, each bit is the
    sign of the sum over distinct tokens of ±1 according to that bit of the
    md5-derived 60-bit token hash. Near-identical docs agree on almost all
    bits; identical token sets agree on all. No shuffle at all —
    fingerprinting is embarrassingly parallel.

    Was xxhash64/64-bit (rows-only — DuckDB has no xxhash64); the md5
    token hash (see _ORACLE_TOKEN_H60) is computable exactly on both
    engines, upgrading this key AND dedup_simhash_pairs to full value-hash
    verification. 60 bits (15 hex chars) rather than 64 keeps the hash and
    the fingerprint inside signed int64 on both engines — the pigeonhole
    pairing splits 60 bits into 4×15-bit blocks with the same d≤3 recall
    theorem. Cost of verifiability: ~1.2 s vs 0.66 s at sf0.1 (md5+hex
    parse per distinct token vs one xxhash64 instruction) — still linear
    and zero-shuffle; a production deployment that doesn't need the
    cross-engine oracle can swap the token-hash lambda back to
    ``F.xxhash64(w)`` with no other change.

    The bit-vote accumulation is a SINGLE aggregate over the token hashes
    carrying a 60-int vote array (each step fans a hash out to all 60
    counters via zip_with) — the per-bit outer loop form re-walks the hash
    array 60 times in interpreted lambda eval and measured 5× slower at
    sf0.1 (3.3 s → 0.66 s, identical output).
    """
    d = load_table(spark, sf_dir, "documents")
    hashes = F.transform(
        F.array_distinct(F.split(F.lower("text"), " ")),
        lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    # Column-valued shift amounts need the SQL expression form (the Python
    # shiftright/shiftleft wrappers only take literal ints).
    simhash = F.expr(
        "aggregate("
        "  zip_with("
        f"    aggregate(hs, array_repeat(0, {SIMHASH_BITS}),"
        f"      (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), (a, b) -> a + IF(((h >> b) & 1) = 1, 1, -1))),"
        f"    sequence(0, {SIMHASH_BITS - 1}),"
        "    (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)"
        "  ), 0L, (acc, x) -> acc | x)"
    )
    return d.select("doc_id", hashes.alias("hs")).select(
        "doc_id", simhash.alias("simhash")
    )


@register(
    "dedup_embedding",
    oracle=(
        "SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, "
        "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45"
    ),
    tier="B",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≡ dot product — the
    fixture vectors are L2-normalized): exact block-grid GEMM with the
    ≥ threshold filter inside the kernel, so only matches leave the block.

    Threshold note: production near-dup cutoffs are ~0.95, but the synthetic
    corpus has no embedding near-dups (max pairwise cosine ≈ 0.53), which
    would make the oracle comparison trivially empty — 0.45 keeps the check
    exercising real values."""
    from .similarity import grid_pair_sims_above

    return grid_pair_sims_above(spark, sf_dir, 0.45)


DEDUP_CANONICAL_ORACLE = (
    "WITH k AS ("
    "  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_key"
    "  FROM documents"
    ") SELECT canon_key, min(doc_id) AS keep_doc_id, "
    "CAST(count(*) AS BIGINT) AS n_members "
    "FROM k GROUP BY canon_key"
)


@register("dedup_canonical", oracle=DEDUP_CANONICAL_ORACLE, tier="B")
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization dedup: documents equal after lowercase + trim +
    whitespace collapse share one canonical key; keep the min doc_id per
    key. Catches the near-trivial duplicate class exact dedup misses
    (case/spacing variants of the same page — extend the normalizer with
    punctuation/URL stripping without changing the plan).

    Scale: identical plan family to dedup_exact — one map-side-combining
    aggregate on a 16-byte hash key; the shuffle never carries text."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.regexp_replace(F.trim(F.lower("text")), "\\s+", " ")
    ).alias("canon_key")
    return (
        d.select("doc_id", key)
        .groupBy("canon_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_members"))
    )


DEDUP_SEMANTIC_ORACLE = (
    "WITH RECURSIVE pairs AS ("
    "  SELECT a.vec_id AS va, b.vec_id AS vb FROM embeddings a "
    "  JOIN embeddings b ON a.vec_id < b.vec_id "
    "  WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
    "        CAST(b.embedding AS DOUBLE[])), 6) >= 0.45), "  # dedup_embedding's threshold
    "edges AS (SELECT va AS u, vb AS v FROM pairs UNION SELECT vb, va FROM pairs), "
    "reach AS ("
    "  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) "
    "  UNION "
    "  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), "
    "lbl AS (SELECT u AS vec_id, min(v) AS rep_id FROM reach GROUP BY u) "
    "SELECT e.vec_id, coalesce(l.rep_id, e.vec_id) AS rep_id, "
    "(coalesce(l.rep_id, e.vec_id) = e.vec_id) AS keep "
    "FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.vec_id"
)


@register("dedup_semantic", oracle=DEDUP_SEMANTIC_ORACLE, tier="B")
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication over the EMBEDDING space — cluster vectors whose cosine
    exceeds the near-dup threshold into connected components and keep one
    representative (min vec_id) per component. Text-level dedup
    (dedup_fuzzy_minhash et al.) misses paraphrases and translations; this
    catches them, which is why modern pretraining pipelines run both.

    Composition of two already-scale-safe stages: candidate pairs from the
    block-grid GEMM with in-kernel thresholding (dedup_embedding — output
    is proportional to matches, never n²), then components via min-label
    propagation with per-round lineage truncation (swap in
    star_contraction for long-chain graphs). Every vector appears in the
    output exactly once with its keeper verdict, so the downstream filter
    is a trivial ``WHERE keep``."""
    pairs = dedup_embedding(spark, sf_dir).select("vec_id_a", "vec_id_b")
    edges = (
        pairs.select(F.col("vec_id_a").alias("u"), F.col("vec_id_b").alias("v"))
        .unionAll(
            pairs.select(F.col("vec_id_b").alias("u"), F.col("vec_id_a").alias("v"))
        )
        .distinct()
    )
    labels = min_label_propagation(edges).withColumnRenamed("u", "vec_id")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        e.join(labels, "vec_id", "left")
        .select("vec_id", F.coalesce("label", "vec_id").alias("rep_id"))
        .withColumn("keep", F.col("rep_id") == F.col("vec_id"))
    )


DEDUP_EDIT_DISTANCE_ORACLE = (
    f"{SHINGLES_CTE}, "
    f"p AS ({oracle_jaccard_pairs_select(JACCARD_THRESHOLD)}) "
    "SELECT p.da AS doc_id_a, p.db AS doc_id_b, "
    "levenshtein(da.text, db.text) AS edit_dist "
    "FROM p JOIN documents da ON da.doc_id = p.da "
    "JOIN documents db ON db.doc_id = p.db"
)


@register("dedup_edit_distance", oracle=DEDUP_EDIT_DISTANCE_ORACLE, tier="B")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the near-dup candidates: exact
    Levenshtein distance for every MinHash/LSH pair — the precision stage
    a curation pipeline runs when Jaccard-on-shingles is too coarse (e.g.
    to rank which member of a duplicate family to keep, or to split
    template-siblings from true copies). Levenshtein is O(len²) per pair,
    which is exactly why it only ever runs on the LSH-bucketed candidate
    set (bounded, match-proportional) and never on the corpus product.
    Spark's and DuckDB's levenshtein agree by probe (kitten/sitting=3,
    abc/''=3)."""
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        pairs.join(
            d.select(F.col("doc_id").alias("doc_id_a"), F.col("text").alias("ta")),
            "doc_id_a",
        )
        .join(
            d.select(F.col("doc_id").alias("doc_id_b"), F.col("text").alias("tb")),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            # cast: Spark's levenshtein returns int32, DuckDB's BIGINT
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        )
    )


CONTAINMENT_THRESHOLD = 0.8

# inverted-index form (r14, same rewrite as oracle_jaccard_pairs_select):
# c = |A∩B| from the equi-join group, containments c/|A| and c/|B| divide
# the same integers as the old list_intersect expressions; zero-common
# pairs (absent here) had C = 0 < τ and were never emitted before either
DEDUP_CONTAINMENT_ORACLE = (
    f"{SHINGLES_CTE} "
    "SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, "
    "round(CAST(count(*) AS DOUBLE) / x.n, 6) AS cont_a, "
    "round(CAST(count(*) AS DOUBLE) / y.n, 6) AS cont_b "
    "FROM (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) x "
    "JOIN (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sh) y "
    "ON x.w = y.w AND x.doc_id < y.doc_id "
    "GROUP BY 1, 2, x.n, y.n "
    f"HAVING CAST(count(*) AS DOUBLE) / x.n >= {CONTAINMENT_THRESHOLD} "
    f"OR CAST(count(*) AS DOUBLE) / y.n >= {CONTAINMENT_THRESHOLD}"
)


@register("dedup_containment", oracle=DEDUP_CONTAINMENT_ORACLE, tier="B")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs: C(A,B) = |A∩B| / |A| — the asymmetric
    cousin of Jaccard that catches SUB-DOCUMENT duplication (a short doc
    embedded verbatim in a long one scores C≈1 from the short side while
    Jaccard stays low, so threshold-on-Jaccard dedup misses it; quote
    farms and scraped aggregators are exactly this shape). Pairs where
    either direction clears 0.8 are emitted with both directional scores.

    Scale — ONE-SIDED prefix filter (the r10 verdict's flagged hub
    quadratic: the old postings self-join fanned a boilerplate shingle
    shared by n docs into O(n²) candidates before any division). The
    emission condition ``C(A,B) ≥ τ OR C(B,A) ≥ τ`` is exactly
    ``|A∩B| ≥ ⌈τ·min(|A|,|B|)⌉`` (the larger containment is
    overlap/min), so for the SMALLER side s of any qualifying pair, with
    t = ⌈τ·|s|⌉, the shared set (size ≥ t) cannot fit inside s's last
    t−1 shingles under s's own (df ASC, shingle ASC) order — the
    ascending order of its dictionary ids — at least one
    shared shingle sits in s's ``|s| − t + 1``-prefix
    (:func:`prefix_postings`, the AllPairs bound the Jaccard engine uses
    too, which at τ=0.8 keeps only ~20% of each document). Candidates are
    therefore prefix(smaller) ⋈ full(larger) on the shingle id —
    LOSSLESS, and unlike the two-sided Jaccard filter it needs no global
    order agreement between the sides, only the smaller side's own suffix
    bound. The hub shingle is the most frequent token, sorts last in
    every document's order, falls outside every prefix, and generates
    ZERO candidates (pinned on a planted-hub corpus in
    tests/test_round11.py); the larger side's full postings only meet
    PREFIX entries, so fan-out per shingle is df_prefix(s)·df(s), not
    df(s)². Candidates are then verified with the exact Arrow kernel
    (:func:`_pair_intersect_counts`) over the full dictionary-id sets —
    output is bitwise identical to the unfiltered all-pairs oracle. The
    kernel counts exact intersections only over duplicate-free sets,
    which ``shingle_sets`` guarantees here (``array_distinct``)."""
    return containment_pairs_of(shingle_sets(spark, sf_dir), CONTAINMENT_THRESHOLD)


def containment_pairs_of(sh: DataFrame, tau: float) -> DataFrame:
    """Exact containment pairs (either direction ≥ ``tau``) over a
    (doc_id, shingles) frame — the one-sided-prefix engine behind
    :func:`dedup_containment` (docstring there), reusable over any
    (doc_id, shingles) input whose shingle arrays are duplicate-free.
    That precondition is the caller's: the verify kernel
    (:func:`_pair_intersect_counts`) counts every matching occurrence, so
    a repeated shingle would inflate |A∩B| and |A|.

    It shares the Jaccard engine's dictionary (:func:`_shingle_id_sets`),
    prefix builder (:func:`prefix_postings`) and Arrow verify; only the
    join rule differs (one-sided prefix ⋈ full postings here, two-sided
    prefix + size filter + positional bound there). The shingle frame is
    pinned first: the dictionary build and the id re-key join inside
    :func:`_shingle_id_sets` are separate plan branches over it, and
    without materialization each re-scans and re-shingles the corpus
    (round-12 A/B with the string engine, sf0.1, output-identical 256
    pairs: removing ONLY this pin took the query 3.3 s → 10.6 s)."""
    sh_ids = _shingle_id_sets(pin(sh))
    posts = sh_ids.select(
        F.col("doc_id").alias("doc_id_big"),
        F.explode("ids").alias("sid"),
        F.size("ids").alias("n_big"),
    )
    cand = (
        prefix_postings(sh_ids, tau)
        .select(F.col("doc_id").alias("doc_id_small"), "sid", F.col("n").alias("n_small"))
        .join(posts, "sid")
        # the prefix side must be the smaller-or-equal side of the pair
        # (ties: either doc's prefix is a valid witness, so <= with the
        # self-pair excluded keeps both orientations and distinct() below
        # collapses them)
        .where(
            (F.col("n_small") <= F.col("n_big"))
            & (F.col("doc_id_small") != F.col("doc_id_big"))
        )
        .select(
            F.least("doc_id_small", "doc_id_big").alias("doc_id_a"),
            F.greatest("doc_id_small", "doc_id_big").alias("doc_id_b"),
        )
    )
    out = (
        cand.join(
            sh_ids.select(F.col("doc_id").alias("doc_id_a"), F.col("ids").alias("sa")),
            "doc_id_a",
        )
        .join(
            sh_ids.select(F.col("doc_id").alias("doc_id_b"), F.col("ids").alias("sb")),
            "doc_id_b",
        )
        .select("doc_id_a", "doc_id_b", "sa", "sb")
        .mapInArrow(_pair_intersect_counts, _INTERSECT_SCHEMA)
        .withColumn("ca", F.col("c") / F.col("na"))
        .withColumn("cb", F.col("c") / F.col("nb"))
        .where((F.col("ca") >= tau) | (F.col("cb") >= tau))
    )
    # Dedupe at the OUTPUT, not between candidate generation and verify: a
    # pair surfaces once per shingle shared between the smaller side's
    # prefix and the larger's postings, so verify multiplicity is bounded
    # by the prefix length — ≤ ~0.2·|doc| at τ=0.8, a constant factor
    # independent of corpus size — while a mid-pipeline distinct costs a
    # full extra exchange over the candidate set. Round-12 single-change
    # A/B (same session/protocol as the pin A/B in the docstring above):
    # moving ONLY this distinct mid-pipeline takes the query 3.3 s → 5.0 s
    # (~1.5×) at sf0.1, output-identical. The Jaccard engine groups its
    # candidates per pair mid-pipeline instead: its τ=0.3 prefixes cover
    # ~70% of each document, where the multiplicity bound is no longer
    # small, and its positional bound needs the per-pair match counts.
    return out.select(
        "doc_id_a",
        "doc_id_b",
        F.round("ca", 6).alias("cont_a"),
        F.round("cb", 6).alias("cont_b"),
    ).distinct()
