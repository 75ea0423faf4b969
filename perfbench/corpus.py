"""Seeded corpora and their DuckDB oracle rows, one per benchmark workload.

Every corpus is one ``documents.parquet`` in the fixture schema (``doc_id,
text, lang, source, n_chars``); the engine receives only its directory. A
corpus and the oracle rows of the workload's query over it are cached per
(workload, seed), so repeated runs with one seed time the same input and pay
generation and the oracle once.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Token counts of the documents fixture at sf0.1 (5,000 docs, 31 words):
#: the vocabulary the engine's tests and oracles were written against.
FIXTURE_VOCAB = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829,
    "dup": 255,
}  # fmt: skip
ZIPF_VOCAB = 1_000_000
ZIPF_S = 1.1
DOC_TOKENS = (10, 100)  # inclusive token-count range per doc, as in the fixture
EDIT_FRAC = 0.10  # share of a planted copy's tokens redrawn
MAX_COPIES = 4
LANGS = ("en", "de", "es", "fr", "zh")
SOURCES = tuple(f"src{i}" for i in range(20))
#: Docs per parquet row group. Spark splits a scan by row group, so a file
#: with several groups is read by all cores, as a large file would be.
ROW_GROUP_DOCS = 8192
#: Corpora kept per workload; older seeds are deleted when a new one is made.
KEEP_PER_WORKLOAD = 4


@dataclass(frozen=True)
class Workload:
    name: str
    key: str  # registry key of the query timed
    n_docs: int  # base documents, before planted copies
    vocab: str  # "zipf" or "fixture"
    dup_frac: float  # share of base docs given 1..MAX_COPIES edited copies


WORKLOADS = {
    w.name: w
    for w in (
        Workload("wc_zipf", "wc_topk", 100_000, "zipf", 0.0),
        Workload("dedup_jaccard", "dedup_ngram_jaccard", 1_500, "fixture", 0.2),
    )
}


@dataclass
class Corpus:
    dir: Path  # holds documents.parquet
    stats: dict  # tokens, distinct_words, planted_clusters, docs
    expected: collections.Counter  # canonical oracle rows

    def slice_dir(self, n_docs: int) -> Path:
        """Directory holding the first ``n_docs`` documents of this corpus."""
        out = self.dir / f"first{n_docs}"
        if not (out / "documents.parquet").exists():
            table = pq.read_table(self.dir / "documents.parquet").slice(0, n_docs)
            _write_atomic(out, table)
        return out


def canonical(rows) -> collections.Counter:
    """Order-insensitive multiset of rows, doubles rounded to 6 places (the
    rounding every oracle applies to compared doubles)."""
    return collections.Counter(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
    )


def generate(w: Workload, seed: int) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng(seed)
    if w.vocab == "zipf":
        words = pa.array([f"w{i:x}" for i in rng.permutation(ZIPF_VOCAB)])
        weights = np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    else:
        words = pa.array(list(FIXTURE_VOCAB))
        weights = np.array(list(FIXTURE_VOCAB.values()), dtype=np.float64)
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]

    def draw(n: int) -> np.ndarray:
        return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int32)

    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, w.n_docs)
    ids = draw(int(lens.sum()))
    offsets = np.concatenate([[0], np.cumsum(lens)])
    bases = np.sort(rng.choice(w.n_docs, round(w.n_docs * w.dup_frac), replace=False))
    copies = []
    for b in bases:
        base = ids[offsets[b] : offsets[b + 1]]
        for _ in range(rng.integers(1, MAX_COPIES + 1)):
            doc = base.copy()
            k = max(1, round(len(doc) * EDIT_FRAC))
            doc[rng.choice(len(doc), k, replace=False)] = draw(k)
            copies.append(doc)
    if copies:
        ids = np.concatenate([ids, *copies])
        lens = np.concatenate([lens, [len(c) for c in copies]])
        offsets = np.concatenate([[0], np.cumsum(lens)])
    docs = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(ids))
    if copies:  # copies must not sit next to their base
        docs = docs.take(pa.array(rng.permutation(len(docs))))
    text = pc.binary_join(
        pa.ListArray.from_arrays(docs.offsets, pc.take(words, docs.flatten())), " "
    )
    n = len(text)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pc.take(pa.array(LANGS), pa.array(rng.integers(0, len(LANGS), n))),
            "source": pc.take(
                pa.array(SOURCES), pa.array(rng.integers(0, len(SOURCES), n))
            ),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    )
    stats = {
        "docs": n,
        "tokens": int(lens.sum()),
        "distinct_words": int(np.unique(ids).size),
        "planted_clusters": int(len(bases)),
    }
    return table, stats


def oracle_rows(sql: str, data_dir: Path) -> list[tuple]:
    import duckdb

    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{data_dir / 'documents.parquet'}')"
        )
        return con.execute(sql).fetchall()


def prepare(w: Workload, seed: int, oracle_sql: str, cache: Path) -> Corpus:
    """The cached corpus for (workload, seed), generated and oracled once."""
    out = cache / f"{w.name}-{seed}"
    meta_path = out / "oracle.json"
    if not meta_path.exists():
        table, stats = generate(w, seed)
        _write_atomic(out, table)
        rows = oracle_rows(oracle_sql, out)
        tmp = meta_path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"stats": stats, "rows": rows}))
        os.replace(tmp, meta_path)
        _prune(cache, w.name, keep=out)
    meta = json.loads(meta_path.read_text())
    return Corpus(out, meta["stats"], canonical(meta["rows"]))


def _write_atomic(out: Path, table: pa.Table) -> None:
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "documents.parquet.tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP_DOCS)
    os.replace(tmp, out / "documents.parquet")


def _prune(cache: Path, name: str, keep: Path) -> None:
    entries = sorted(
        (p for p in cache.glob(f"{name}-*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in entries[: max(0, len(entries) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(p, ignore_errors=True)
