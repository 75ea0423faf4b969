"""Aggregate-function extensions: arg-min/max, conditional counting,
deterministic mode, bounded products, boolean/bitwise reducers, ordered
string aggregation, and fixed-width histograms.

Cross-engine determinism notes:
- agg_minmax_by orders by a (value, key) struct so ties resolve identically.
- agg_mode is implemented as count + rank with a smallest-value tiebreak on
  BOTH engines — native mode() is tie-nondeterministic on each.
- agg_product multiplies ≤7 values per group (lineitems per order), so FP
  rounding drift stays ~1e-16 and rounding to 6 decimals is stable.
- agg_hist buckets with floor(x / width) — identical integer bucketing on
  both engines, negatives floor toward -inf on both.

Scale: all are single hash-shuffle groupBys with map-side partial
aggregation; the histogram is the classic 2-phase (bucket-then-count)
shape that never materializes per-row data on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting
from ..registry import register
from ..sources.loader import load_table


@register(
    "agg_minmax_by",
    oracle=(
        "SELECT o_orderstatus, "
        "max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000 + o_orderkey) AS priciest_order, "
        "min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000 + o_orderkey) AS cheapest_order, "
        "round(max(o_totalprice), 2) AS max_price, "
        "round(min(o_totalprice), 2) AS min_price "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per status: the order id carrying the extreme price. The ordering
    value packs (integer cents, orderkey) into one int64 — cents·1e9 + key,
    far under overflow — so price ties resolve deterministically (largest
    key wins the max side, smallest the min side) on both engines; DuckDB's
    max_by can't order by a struct, an int key can."""
    o = load_table(spark, sf_dir, "orders")
    packed = F.round(F.col("o_totalprice") * 100).cast("long") * 1_000_000_000 + F.col(
        "o_orderkey"
    )
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", packed).alias("priciest_order"),
        F.min_by("o_orderkey", packed).alias("cheapest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


@register(
    "agg_count_if",
    oracle=(
        "SELECT l_returnflag, count(*) AS n, "
        "CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted, "
        "CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_bulk, "
        "CAST(count_if(l_tax = 0.0) AS BIGINT) AS n_taxfree "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts in one pass — the idiom replacing N filtered
    scans with one scan and N predicated counters (map-side combinable)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
        F.count_if(F.col("l_tax") == 0.0).alias("n_taxfree"),
    )


@register(
    "agg_mode",
    oracle=(
        "WITH c AS (SELECT o_orderpriority, CAST(floor(o_totalprice / 1000) AS INTEGER) "
        "AS price_kbucket, count(*) AS cnt FROM orders "
        "GROUP BY o_orderpriority, price_kbucket) "
        "SELECT o_orderpriority, price_kbucket AS modal_kbucket, cnt AS modal_n "
        "FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY cnt DESC, price_kbucket) AS rn FROM c) WHERE rn = 1"
    ),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent price bucket per priority — mode as count+rank with a
    smallest-value tiebreak (native mode() breaks ties arbitrarily on both
    engines, so it can never hash-match; this form is deterministic AND the
    scalable shape: two shuffles, both on small key spaces)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 1000).cast("int")
    counts = (
        o.groupBy("o_orderpriority", bucket.alias("price_kbucket"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cnt").desc(), F.col("price_kbucket")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("price_kbucket").alias("modal_kbucket"),
            F.col("cnt").alias("modal_n"),
        )
    )


@register(
    "agg_product",
    oracle=(
        "SELECT l_orderkey, count(*) AS n_lines, "
        "round(product(1 + l_tax), 6) AS tax_factor "
        "FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 500"
    ),
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound tax factor per order — a true multiplicative aggregate.
    Groups are tiny (≤7 lineitems/order) so float product drift is below
    the 6-decimal rounding; at scale the log-sum-exp form would replace it
    for long products."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.product(1 + F.col("l_tax")), 6).alias("tax_factor"),
        )
        .orderBy("l_orderkey")
        .limit(500)
    )


@register(
    "agg_bool_bit",
    oracle=(
        "SELECT o_orderstatus, "
        "bool_and(o_totalprice > 1000) AS all_over_1k, "
        "bool_or(o_orderpriority = '1-URGENT') AS any_urgent, "
        "bit_and(o_custkey) AS key_and, "
        "bit_or(o_custkey) AS key_or, "
        "bit_xor(o_orderkey) AS key_xor "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean every/any and bitwise AND/OR/XOR reducers — all associative
    and commutative, so partial aggregation is exact at any parallelism."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bit_and("o_custkey").alias("key_and"),
        F.bit_or("o_custkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@register(
    "agg_string",
    oracle=(
        "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations "
        "FROM nation GROUP BY n_regionkey"
    ),
)
def agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect, sort, join — the
    explicit sort is what makes the concatenation deterministic."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
    )


@register(
    "agg_hist",
    oracle=(
        "SELECT CAST(floor(c_acctbal / 500) AS BIGINT) AS bucket, "
        "count(*) AS n, "
        "round(CAST(floor(c_acctbal / 500) AS BIGINT) * CAST(500.0 AS DOUBLE), 1) AS bucket_lo "
        "FROM customer GROUP BY 1"
    ),
)
def agg_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width balance histogram ($500 buckets, negatives floor toward
    -inf identically on both engines) — the distributed histogram shape:
    bucket map-side, count with partial agg, never collect raw values."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 500)
    return (
        c.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("bucket_lo", F.round(F.col("bucket") * 500.0, 1))
    )


AGG_HEAVY_HITTERS_ORACLE = (
    "WITH w AS ("
    "  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents"
    "), c AS ("
    "  SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word"
    "), t AS (SELECT sum(cnt) AS total FROM c) "
    "SELECT c.word, CAST(c.cnt AS BIGINT) AS cnt, "
    "round(c.cnt / (1.0 * t.total), 6) AS frac "
    "FROM c, t WHERE c.cnt * 50 > t.total"
)


@register("agg_heavy_hitters", oracle=AGG_HEAVY_HITTERS_ORACLE, tier="A")
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: tokens holding more than 1/50 of total token mass
    (the φ=0.02 frequent-items problem). Exact form: one word-count shuffle
    plus a 1-row broadcast total; the threshold compare is integer
    (cnt·50 > total), so no float boundary can disagree between engines.

    Scale: the exact form is already cheap because the compare runs on the
    aggregated counts (vocabulary-sized, not corpus-sized). When even the
    vocabulary doesn't fit — e.g. heavy hitters over raw n-grams or URLs —
    use :func:`agg_heavy_hitters_sketch` (same answer set, same oracle):
    per-partition Misra–Gries summaries + a candidate-restricted exact
    re-scan, no vocabulary-sized shuffle anywhere."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    t = F.broadcast(c.agg(F.sum("cnt").alias("total")))
    return (
        c.crossJoin(t)
        .where(F.col("cnt") * 50 > F.col("total"))
        .select(
            "word",
            "cnt",
            F.round(F.col("cnt") / (1.0 * F.col("total")), 6).alias("frac"),
        )
    )


@register("agg_heavy_hitters_sketch", oracle=AGG_HEAVY_HITTERS_ORACLE, tier="A")
def agg_heavy_hitters_sketch(
    spark: SparkSession, sf_dir: str, k: int = 100
) -> DataFrame:
    """φ=0.02 heavy hitters via the Misra–Gries sketch (Misra & Gries 1982;
    mergeability per Agarwal et al., "Mergeable Summaries", PODS 2012) — the
    form for when even the VOCABULARY overflows memory (raw n-grams / URLs
    at 100 TB), where :func:`agg_heavy_hitters`'s exact word-count shuffle
    is no longer cheap. Same answer set, same oracle: the sketch only
    nominates candidates; exact counts come from a candidate-restricted
    re-scan, so the output is identical to the exact form (hash-verified).

    Plan (two linear passes, NO vocabulary-sized shuffle):

    1. per-partition Misra–Gries with ``k`` counters inside one
       ``mapInPandas`` pass — each Arrow batch is reduced vectorized
       (``value_counts``) and merged into the partition's counter dict;
       overflow subtracts the (m-k)-th smallest counter from all (the
       batched decrement: each unit removes ≥ k+1 counts, so total
       decrement ≤ n_p/(k+1));
    2. the UNION of partition summaries (≤ partitions·k rows, a few KB) is
       the candidate set. Sound for k ≥ 1/φ: a globally φ-heavy word is
       φ-heavy in ≥1 partition by pigeonhole, and MG cannot evict an item
       whose partition count exceeds n_p/(k+1);
    3. exact pass: tokens broadcast-semi-joined to the candidates, one
       TINY groupBy (≤ candidates keys), integer threshold cnt·50 > total
       against the broadcast 1-row token total.

    k=100 doubles the φ=0.02 soundness floor of 50. tests/test_round6.py
    proves the no-drop guarantee on an adversarially skewed corpus and
    asserts set-equality with the exact operator."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).where(F.col("word") != "")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for word, cnt in pdf["word"].value_counts().items():
                counters[word] = counters.get(word, 0) + int(cnt)
            m = len(counters)
            if m > k:
                vals = sorted(counters.values())
                cut = vals[m - k - 1]  # (m-k)-th smallest: ≥ m-k hit ≤0
                counters = {w: c - cut for w, c in counters.items() if c > cut}
        yield pd.DataFrame(
            {"word": list(counters), "est": list(counters.values())}
        )

    summary = tokens.mapInPandas(mg_partition, "word string, est long")
    cands = F.broadcast(summary.select("word").distinct())
    exact = tokens.join(cands, "word", "left_semi").groupBy("word").agg(
        F.count("*").alias("cnt")
    )
    total = F.broadcast(tokens.agg(F.count("*").alias("total")))
    return (
        exact.crossJoin(total)
        .where(F.col("cnt") * 50 > F.col("total"))
        .select(
            "word",
            "cnt",
            F.round(F.col("cnt") / (1.0 * F.col("total")), 6).alias("frac"),
        )
    )


AGG_LISTAGG_ORACLE = (
    "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names "
    "FROM nation GROUP BY n_regionkey"
)


@register("agg_listagg", oracle=AGG_LISTAGG_ORACLE)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP, new
    in Spark 4.0) — the report-formatting aggregate DuckDB spells
    string_agg(expr, sep ORDER BY ...). The in-group ORDER BY is what makes
    the result deterministic under any partitioning; an unordered concat
    would differ run to run.

    Scale: same two-phase hash aggregate as any groupBy (partial concat
    map-side); the one real hazard is group VALUE size — a group with
    millions of members builds a string that big, so at 100 TB listagg
    belongs on bounded-cardinality groups (here: 5 nations per region) or
    behind a top-k prefilter."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("names")
    )


AGG_BITWISE_ORACLE = (
    "SELECT l_returnflag, "
    "CAST(bit_or(1 << l_linenumber) AS BIGINT) AS line_mask, "
    "CAST(bit_and(l_orderkey) AS BIGINT) AS key_and, "
    "CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor "
    "FROM lineitem GROUP BY l_returnflag"
)


@register("agg_bitwise", oracle=AGG_BITWISE_ORACLE)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates: bit_or as a presence mask (which line numbers
    occur per flag — the poor man's roaring bitmap), bit_and as an
    all-rows-share-these-bits probe, bit_xor as an order-independent
    parity/checksum (the classic shuffle-free integrity check: xor of a
    column is partition-order invariant by algebra, so it verifies copies
    without sorting). All three are associative+commutative, so Spark runs
    them map-side-combined in one exchange."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("bit_or(shiftleft(1, l_linenumber))").cast("long").alias("line_mask"),
        F.expr("bit_and(l_orderkey)").cast("long").alias("key_and"),
        F.expr("bit_xor(l_orderkey)").cast("long").alias("key_xor"),
    )


AGG_GROUPING_ID_ORACLE = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag, "
    "CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status, "
    "CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
)


@register("agg_grouping_id", oracle=AGG_GROUPING_ID_ORACLE)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping()/grouping_id() over a rollup: the functions that
    disambiguate a real NULL group value from a subtotal row's
    placeholder NULL — without them, rollup/cube outputs are unusable on
    nullable keys. gid is the bitmask form (flag bit 1, status bit 0);
    the oracle reconstructs it from per-column GROUPING() since DuckDB
    spells GROUPING_ID differently. Same single-exchange expand plan as
    agg_rollup."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
    )


AGG_WEIGHTED_AVG_ORACLE = (
    "SELECT l_returnflag, "
    "round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price, "
    "round(sum(l_extendedprice * (1 - l_discount)) / sum(l_extendedprice), 6) "
    "AS effective_rate "
    "FROM lineitem GROUP BY l_returnflag"
)


@register("agg_weighted_avg", oracle=AGG_WEIGHTED_AVG_ORACLE)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted means: quantity-weighted unit price and the revenue-
    weighted effective discount rate — the aggregate plain avg() silently
    gets wrong whenever group members carry different weights. Expressed
    as two plain sums per measure (numerator/denominator), so the partial
    aggregation and single exchange are identical to any other sum; the
    6-dp round on the RATIO (not the sums) absorbs summation-order noise
    on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            6,
        ).alias("wavg_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            / F.sum("l_extendedprice"),
            6,
        ).alias("effective_rate"),
    )


AGG_BITMAP_DISTINCT_ORACLE = (
    "SELECT l_linestatus, CAST(count(DISTINCT l_partkey) AS BIGINT) AS uniq_parts "
    "FROM lineitem GROUP BY l_linestatus"
)


@register("agg_bitmap_distinct", oracle=AGG_BITMAP_DISTINCT_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmap aggregates
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count, Spark
    3.5+): keys are bucketed into 32k-bit bitmap segments, each segment
    OR-combines map-side, and the final count sums per-segment popcounts.

    This is the warehouse pattern for distinct-at-scale: the shuffle
    carries (group, bucket, 4KB-bitmap) rows — bounded by key-space/32768
    per group, NOT by row count — and unlike count(DISTINCT) there is no
    per-value exchange, and unlike HLL (agg_approx_distinct) the answer is
    exact. The oracle is plain COUNT(DISTINCT): the bitmap pipeline must
    reproduce it bit-for-bit."""
    l = load_table(spark, sf_dir, "lineitem")
    seg = l.groupBy(
        "l_linestatus",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("bm"))
    return seg.groupBy("l_linestatus").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("uniq_parts")
    )


_CMS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5({w} || ':cms' || CAST({s} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 1024"
)

AGG_COUNTMIN_ORACLE = (
    "WITH toks AS (SELECT word FROM ("
    "SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents"
    ") WHERE word <> ''), "
    "seeds AS (SELECT unnest(generate_series(0, 3)) AS s), "
    "cells AS (SELECT s, "
    + _CMS_BUCKET_SQL.format(w="word", s="s")
    + " AS bucket, count(*) AS cnt FROM toks CROSS JOIN seeds GROUP BY 1, 2), "
    "top AS (SELECT word, count(*) AS exact_cnt FROM toks GROUP BY word "
    "ORDER BY exact_cnt DESC, word LIMIT 20), "
    "probes AS (SELECT t.word, t.exact_cnt, s.s, "
    + _CMS_BUCKET_SQL.format(w="t.word", s="s.s")
    + " AS bucket FROM top t CROSS JOIN seeds s) "
    "SELECT p.word, CAST(p.exact_cnt AS BIGINT) AS exact_cnt, "
    "CAST(min(c.cnt) AS BIGINT) AS cms_est "
    "FROM probes p JOIN cells c ON c.s = p.s AND c.bucket = p.bucket "
    "GROUP BY p.word, p.exact_cnt"
)


@register("agg_countmin", oracle=AGG_COUNTMIN_ORACLE, tier="B")
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005), the frequency
    sketch completing the repo's set (HLL = cardinality, Misra–Gries =
    top-k candidates, bitmap = exact distinct, CMS = point frequency):
    d=4 hash rows × w=1024 counters; estimate(x) = min over rows of the
    counter x hashes into — never an underestimate, overestimate bounded
    by 2N/w with prob. 1−2⁻⁴. Here the sketch is built over the token
    stream and probed with the exact top-20 words so the (exact, est)
    error is visible data.

    Scale: the sketch is 4096 counters REGARDLESS of corpus size — counter
    increments combine map-side (it's just a groupBy on (row, bucket)), so
    the shuffle carries ≤4096·P rows; cells and probes are both tiny
    broadcast-side tables for the final min-join. Hashes are md5-derived
    (same bytes both engines), so the sketch — including its collisions —
    replays identically; a production build swaps md5 for xxhash64 and
    keeps the identical plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).where(F.col("word") != "")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("s")

    def bucket(word_col, s_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(word_col, F.lit(":cms"), s_col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    cells = (
        toks.select("word", seeds)
        .select("s", bucket(F.col("word"), F.col("s")).alias("bucket"))
        .groupBy("s", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        toks.groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "word")
        .limit(20)
    )
    probes = top.select("word", "exact_cnt", seeds).select(
        "word", "exact_cnt", "s", bucket(F.col("word"), F.col("s")).alias("bucket")
    )
    return (
        probes.join(cells, ["s", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )


# quantile_disc only takes CONSTANT quantile params -> one leg per q
AGG_PERCENTILE_ITERATIVE_ORACLE = " UNION ALL ".join(
    f"SELECT CAST({q} AS DOUBLE) AS p, "
    f"quantile_disc(l_extendedprice, {q}) AS value FROM lineitem"
    for q in (0.25, 0.5, 0.75, 0.9, 0.99)
)


@register("agg_percentile_iterative", oracle=AGG_PERCENTILE_ITERATIVE_ORACLE)
def agg_percentile_iterative(
    spark: SparkSession,
    sf_dir: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    buckets: int = 8192,
    max_iters: int = 8,
) -> DataFrame:
    """EXACT discontinuous percentiles (quantile_disc) by iterative range
    narrowing — the scale form of :func:`..aggregates.agg_percentile`, for
    when per-group value buffers (what ``F.percentile`` materializes) no
    longer fit: no global sort, no per-group buffer, just 2–3 linear
    histogram scans of a cached integer column (the BigQuery/Dremel exact-
    quantile strategy; same two-pass "sketch nominates, exact pass decides"
    contract as agg_heavy_hitters_sketch).

    Algorithm (all-integer, hence exact and partition-count invariant):
    prices integerize to cents (a bijection on this data — asserted in
    tests/test_round7.py, and exactly representable back as the original
    double via c/100.0); the element of 1-indexed rank max(1, ceil(q·n))
    (DuckDB's quantile_disc convention, probed empirically) is found by
    repeatedly histogramming the surviving [lo, hi] cent range into
    ``buckets`` integer-bounded buckets and descending into the bucket
    containing the residual rank. Range ~1e7 cents ÷ 8192 buckets → 2
    iterations (8192² > 1e7 pins any such range in two scans; the round-7
    default of 1024 took three — the found element is bucket-width
    invariant, only the scan count changes, and the collected histogram
    stays bounded metadata at ≤ buckets·|intervals| rows).
    All active quantiles advance in ONE fused scan per
    iteration: surviving intervals are identical-or-disjoint by
    construction, so a coalesce of per-interval bucket expressions (pure
    whole-stage-codegen arithmetic, no higher-order functions) gives each
    row its single (interval, bucket) cell and one tiny groupBy serves
    every quantile.

    Driver involvement is bounded metadata — the ≤ buckets×|qs| histogram
    rows per iteration (same justification as the k-means centroid
    collect), never data rows. The returned DataFrame carries the found
    scalars."""
    import math

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"))
    )
    with persisting() as keep:
        keep(src)
        head = src.agg(
            F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi")
        ).collect()[0]
        n = head["n"]
        if n == 0:
            # empty corpus: no quantiles exist — zero rows, like DuckDB's
            # quantile_disc over an empty relation (the None bounds would
            # otherwise crash the lo < hi narrowing comparison)
            return spark.createDataFrame([], "p double, value double")
        # state per quantile: [lo, hi] cent bounds and residual 1-indexed rank
        state = {
            q: {"lo": head["lo"], "hi": head["hi"], "r": max(1, math.ceil(q * n))}
            for q in qs
        }
        for _ in range(max_iters):
            active = [q for q, s in state.items() if s["lo"] < s["hi"]]
            if not active:
                break
            # Distinct surviving intervals are IDENTICAL or DISJOINT (all
            # descend from the same root by choosing histogram buckets), so
            # at most one matches any row: a plain coalesce of codegen'd
            # arithmetic — no array/explode, and critically no higher-order
            # functions, which are interpreted per element and were measured
            # 20x slower than this whole-stage-codegen form at sf0.1.
            ivals: dict[tuple[int, int], int] = {}
            for q in active:
                ivals.setdefault((state[q]["lo"], state[q]["hi"]), len(ivals))
            exprs = [
                F.when(
                    (F.col("c") >= lo) & (F.col("c") <= hi),
                    F.lit(iid * buckets)
                    + (((F.col("c") - lo) * buckets) / (hi - lo + 1)).cast("long"),
                )
                for (lo, hi), iid in ivals.items()
            ]
            qb = exprs[0] if len(exprs) == 1 else F.coalesce(*exprs)
            hist = (
                src.select(qb.alias("qb"))
                .where(F.col("qb").isNotNull())
                .groupBy("qb")
                .agg(F.count("*").alias("cnt"))
                .collect()
            )
            counts: dict[int, dict[int, int]] = {}
            for row in hist:
                counts.setdefault(row["qb"] // buckets, {})[row["qb"] % buckets] = row[
                    "cnt"
                ]
            for q in active:
                s = state[q]
                iid = ivals[(s["lo"], s["hi"])]
                width = s["hi"] - s["lo"] + 1
                cum = 0
                for b in range(buckets):
                    cnt = counts.get(iid, {}).get(b, 0)
                    if cum + cnt >= s["r"]:
                        s["r"] -= cum
                        # integer bucket b covers cents [lo + ceil(b*width/B),
                        # lo + ceil((b+1)*width/B) - 1] under (c-lo)*B div width
                        s["lo"], s["hi"] = (
                            s["lo"] + -(-(b * width) // buckets),
                            s["lo"] + -(-((b + 1) * width) // buckets) - 1,
                        )
                        break
                    cum += cnt
                else:  # pragma: no cover - rank exceeds count: impossible
                    raise AssertionError("rank walked past histogram total")
        bad = [q for q, s in state.items() if s["lo"] < s["hi"]]
        if bad:  # pragma: no cover - 8 iters cover any int64 range
            raise AssertionError(f"quantiles did not converge: {bad}")
    return spark.createDataFrame(
        [(float(q), state[q]["lo"] / 100.0) for q in qs], "p double, value double"
    )
