"""Audio-container / perceptual-hash / change-detection wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r43.py holds the independent property checks.

Contents (a WAV-header op drafted for this wave was DROPPED before
staging: ``mm_wav_meta`` already exists, registered, in staged_r10 —
same name, same capability, and even the same temp staging directory;
a second copy would have been skipped at promotion exactly like the
``win_first_last`` collision COVERAGE.md records):

- ``mm_phash`` — multi-resolution average-hash over the (stub) image
  payload: a 60-bit aHash (first 60 payload bytes vs their integer
  mean; 60 bits = the dedup_simhash int64-safe convention) for
  precision plus a 16-bit coarse hash (first 16 bytes) for recall-first
  bucketing. Arrow-batched mapInPandas (the mm_embed shape) — and the
  oracle recomputes BOTH hashes from first principles over the hex
  bytes in DuckDB, so the hash certifies the whole Python/Arrow path.
- ``mm_phash_pairs`` — near-duplicate image candidates from the coarse
  16-bit hash: Manku-style block pigeonholing over DISTINCT hashes
  (2×8-bit blocks; hamming ≤ 2 ⇒ one block must agree exactly — recall
  1.0 is a theorem at the contract distance), exact ``bit_count(xor)``
  verify, plus the same-hash multiplicity groups. The image twin of
  dedup_simhash_pairs.
- ``event_cusum`` — one-sided CUSUM change detection over the daily
  event-count series: S_t = max(0, S_{t−1} + (x_t − μ)), flagged when
  S exceeds the 5·√μ band. Genuinely recursive (no closed form), so
  the Spark side is an exact sequential ``F.aggregate`` fold over the
  day-sorted array and the oracle is a recursive CTE replaying the
  SAME double arithmetic in the SAME order — IEEE-identical, 6-dp
  rounded. The series is |days|-sized (bounded), NOT row-sized: the
  only data-scale work is the daily count aggregate.

Exactness doctrine: hashes are exact integers; CUSUM doubles fold in a
defined sequential order on both engines and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table

# --- multi-resolution perceptual hash --------------------------------------------

_PHASH_BITS = 60  # int64-safe (the dedup_simhash convention)
_PHASH_COARSE_BITS = 16
_PHASH_PAIR_HAMMING = 2
# pigeonhole needs hamming+1 = 3 blocks: with only 2, two flips can land
# one in each half and no block agrees (caught by the sf0.001 oracle
# drive — 399 missing pairs). 16 bits split (offset, width) = 6+5+5.
_PHASH_BLOCKS = ((0, 6), (6, 5), (11, 5))

# bytes i = 1..nb of the payload (0-padded past the end), their integer
# mean, and the "byte > mean" bitmap — shared shape for both resolutions
_PHASH_ORACLE_TEMPLATE = (
    "list_sum(list_transform(range(0, {nb}), j -> CASE WHEN "
    "(CASE WHEN j + 1 <= n THEN CAST(concat('0x', substr(h, 2*j+1, 2)) AS BIGINT) ELSE 0 END)"
    " > (list_sum(list_transform(range(1, {nb} + 1), i -> "
    "CASE WHEN i <= n THEN CAST(concat('0x', substr(h, 2*i-1, 2)) AS BIGINT) ELSE 0 END)) // {nb})"
    " THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE CAST(0 AS BIGINT) END))"
)

MM_PHASH_CTE = (
    "hx AS (SELECT doc_id, hex(encode(text)) AS h, "
    "octet_length(encode(text)) AS n FROM documents), "
    "ph AS (SELECT doc_id, "
    f"CAST({_PHASH_ORACLE_TEMPLATE.format(nb=_PHASH_BITS)} AS BIGINT) AS phash, "
    f"CAST({_PHASH_ORACLE_TEMPLATE.format(nb=_PHASH_COARSE_BITS)} AS BIGINT) AS phash16, "
    "CAST(n AS BIGINT) AS n_bytes FROM hx)"
)

MM_PHASH_ORACLE = f"WITH {MM_PHASH_CTE} SELECT doc_id, phash, phash16, n_bytes FROM ph"


def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Stub-decode caveat as everywhere in the mm
    family: the "image" is the utf-8 payload; swap the byte window for a
    real decoded-grayscale grid and the hashing, bucketing, and pairing
    below are unchanged."""
    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def hash_batch(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "phash": [], "phash16": [], "n_bytes": []}
            for payload in pdf["payload"]:
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                out["n_bytes"].append(len(b))
                for key, nb in (("phash", _PHASH_BITS), ("phash16", _PHASH_COARSE_BITS)):
                    w = np.zeros(nb, dtype=np.int64)
                    w[: min(nb, len(b))] = b[:nb]
                    mean = int(w.sum()) // nb
                    bits = w > mean
                    out[key].append(int(sum(1 << j for j in range(nb) if bits[j])))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        hash_batch, "doc_id long, phash long, phash16 long, n_bytes long"
    )


MM_PHASH_PAIRS_ORACLE = (
    f"WITH {MM_PHASH_CTE}, "
    "g AS (SELECT phash16, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY phash16) "
    "SELECT a.phash16 AS fp_a, b.phash16 AS fp_b, a.n AS n_a, b.n AS n_b, "
    "CAST(bit_count(xor(a.phash16, b.phash16)) AS INTEGER) AS hamming "
    "FROM g a JOIN g b ON a.phash16 < b.phash16 "
    f"WHERE bit_count(xor(a.phash16, b.phash16)) <= {_PHASH_PAIR_HAMMING} "
    "UNION ALL SELECT phash16, phash16, n, n, CAST(0 AS INTEGER) FROM g WHERE n > 1"
)


def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Pigeonhole over DISTINCT coarse hashes: any
    two hashes within hamming ≤ 2 agree exactly on at least one of the
    THREE blocks (3 = hamming+1 — the Manku block-count theorem), so the
    candidate join on (block index, block value) has recall 1.0 by
    construction. |distinct hashes| ≤ 2¹⁶ regardless of corpus size, so
    the pairing cost is corpus-size-INDEPENDENT; only the hash aggregate
    sees the data."""
    ph = mm_phash(spark, sf_dir)
    g = ph.groupBy("phash16").agg(F.count(F.lit(1)).cast("long").alias("n"))
    blocks = g.select(
        "phash16",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright(F.col("phash16"), off)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for k, (off, width) in enumerate(_PHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("phash16", "n", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    a = blocks.select(
        F.col("phash16").alias("fp_a"), F.col("n").alias("n_a"), "blk", "val"
    )
    b = blocks.select(
        F.col("phash16").alias("fp_b"), F.col("n").alias("n_b"), "blk", "val"
    )
    near = (
        a.join(b, ["blk", "val"])
        .where(F.col("fp_a") < F.col("fp_b"))
        .select("fp_a", "fp_b", "n_a", "n_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .where(F.col("hamming") <= _PHASH_PAIR_HAMMING)
    )
    same = g.where(F.col("n") > 1).select(
        F.col("phash16").alias("fp_a"),
        F.col("phash16").alias("fp_b"),
        F.col("n").alias("n_a"),
        F.col("n").alias("n_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return near.unionByName(same)


# --- one-sided CUSUM change detection ----------------------------------------------

EVENT_CUSUM_ORACLE = (
    "WITH RECURSIVE d AS ("
    "  SELECT CAST(date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) "
    "  AS TIMESTAMP) AS day, CAST(count(*) AS BIGINT) AS x "
    "  FROM events GROUP BY 1"
    "), idx AS ("
    "  SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM d"
    "), mu AS (SELECT sum(x) / (1.0 * count(*)) AS m FROM d), "
    "c AS ("
    "  SELECT rn, day, x, greatest(0.0, 0.0 + (x - mu.m)) AS s "
    "  FROM idx CROSS JOIN mu WHERE rn = 1"
    "  UNION ALL"
    "  SELECT i.rn, i.day, i.x, greatest(0.0, c.s + (i.x - mu.m)) AS s"
    "  FROM idx i JOIN c ON i.rn = c.rn + 1 CROSS JOIN mu"
    ") SELECT day, x AS n_events, round(s, 6) AS cusum, "
    "round(s, 6) > round(5 * sqrt(mu.m), 6) AS flagged "
    "FROM c CROSS JOIN mu"
)


def event_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The fold runs over ONE |days|-length array
    (F.aggregate is a strict left fold — exactly the CUSUM recursion);
    the oracle's recursive CTE replays the same doubles in the same
    order, so the 6-dp-rounded path matches bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("arr"),
        (F.sum("x") / F.count(F.lit(1))).alias("mu"),
    )
    acc0 = F.struct(
        F.lit(None)
        .cast("array<struct<day:timestamp,x:bigint,s:double>>")
        .alias("out"),
        F.lit(0.0).alias("s"),
    )
    folded = series.select(
        "mu",
        F.aggregate(
            "arr",
            acc0,
            lambda acc, e_: F.struct(
                F.concat(
                    F.coalesce(
                        acc["out"],
                        F.array().cast("array<struct<day:timestamp,x:bigint,s:double>>"),
                    ),
                    F.array(
                        F.struct(
                            e_["day"].alias("day"),
                            e_["x"].alias("x"),
                            F.greatest(
                                F.lit(0.0), acc["s"] + (e_["x"] - F.col("mu"))
                            ).alias("s"),
                        )
                    ),
                ).alias("out"),
                F.greatest(F.lit(0.0), acc["s"] + (e_["x"] - F.col("mu"))).alias("s"),
            ),
            lambda acc: acc["out"],
        ).alias("path"),
    )
    return folded.select("mu", F.explode("path").alias("p")).select(
        F.col("p.day").alias("day"),
        F.col("p.x").alias("n_events"),
        F.round("p.s", 6).alias("cusum"),
        (F.round("p.s", 6) > F.round(5 * F.sqrt(F.col("mu")), 6)).alias("flagged"),
    )


DEV_CASES = [
    ("mm_phash", mm_phash, MM_PHASH_ORACLE),
    ("mm_phash_pairs", mm_phash_pairs, MM_PHASH_PAIRS_ORACLE),
    ("event_cusum", event_cusum, EVENT_CUSUM_ORACLE),
]
