"""Deterministic benchmark inputs, written as parquet.

The content of every table is fixed: it is drawn from ``CONTENT_SEED``
with the shapes of the sf0.1 documents (5,000 rows) and embeddings
(2,000 vectors). The run's ``--seed`` moves only two things:

* the documents' doc_id offset, a multiple of 1000, so every doc_id-mod
  rule of ``datagen.pages`` (the 70/25/5 HTML/PDF/malformed routing by
  ``doc_id % 20``, the 1% RC4 and 1% AES documents, the every-500th
  heavy tail) keeps its share;
* the row order of every table, which changes which rows share an input
  partition.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 43, not 42: with 42 two documents' quality_classifier logits sit on an
# exact 6th-decimal half, where Spark rounds up and the DuckDB oracle
# rounds to even.
CONTENT_SEED = 43
N_DOCS = 5_000
PAGE_FILES = 16        # input splits of the pages table
MAX_OFFSET_STEPS = 1_000

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def doc_id_offset(seed: int) -> int:
    return 1000 * (seed % MAX_OFFSET_STEPS)


def _write(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write ``df`` as ``n_files`` parquet files under directory ``path``
    (microsecond timestamps, as Spark reads them)."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = df.iloc[i::n_files] if n_files > 1 else df
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       coerce_timestamps="us")


def documents(seed: int) -> pd.DataFrame:
    """sf0.1-shaped documents: 10-100 words from a 30-word vocabulary,
    5% near-duplicates (another document's text plus " dup"), language
    mix 40% en and 15% each of es/de/fr/zh."""
    rng = np.random.default_rng(CONTENT_SEED)
    lens = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(N_DOCS - 1)) % N_DOCS] + " dup"
    ids = np.arange(N_DOCS, dtype=np.int64) + doc_id_offset(seed)
    df = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return _shuffled(df, seed)


def _shuffled(df: pd.DataFrame, seed: int) -> pd.DataFrame:
    order = np.random.default_rng(seed).permutation(len(df))
    return df.iloc[order].reset_index(drop=True)


def page_docs(seed: int, replicas: int) -> pd.DataFrame:
    """The documents fanned out to ``replicas`` distinct urls each, with
    the doc_id stride ``engine.source`` uses for replicas."""
    from pdf_parser_spark.engine.source import REPLICA_STRIDE

    docs = documents(seed)
    reps = [docs.assign(doc_id=docs["doc_id"] + r * REPLICA_STRIDE)
            for r in range(replicas)]
    return _shuffled(pd.concat(reps, ignore_index=True), seed)


def build_pages(docs: pd.DataFrame) -> pd.DataFrame:
    """Render the pages table through ``datagen`` (doc_id kept for the
    output checks)."""
    from pdf_parser_spark.datagen.pages import build_pages_pdf

    pages = build_pages_pdf(docs[["doc_id", "text", "lang"]])
    pages.insert(0, "doc_id", docs["doc_id"].values)
    return pages


def write_pages(pages: pd.DataFrame, path: str) -> None:
    _write(pages, path, PAGE_FILES)


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    n, dim, k = 2_000, 64, 10
    label = rng.integers(0, k, n).astype(np.int32)
    cents = rng.normal(size=(k, dim))
    vec = cents[label] + rng.normal(scale=1.2, size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vec.astype(np.float32)),
                         "label": label})


ANALYTICS_TABLES = ("documents", "embeddings")


def write_analytics_tables(seed: int, sf_dir: str) -> None:
    """The tables the corpus_analytics suite reads, one parquet each, in
    the ``<sf_dir>/<table>.parquet`` layout ``__spark_entry__`` expects."""
    rng = np.random.default_rng(CONTENT_SEED)
    tables = {"documents": documents(seed), "embeddings": _embeddings(rng)}
    for name, df in tables.items():
        _write(_shuffled(df, seed), os.path.join(sf_dir, f"{name}.parquet"))
