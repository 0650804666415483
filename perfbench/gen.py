"""Seeded ``documents.parquet`` generator for the benchmark workloads.

The program derives every image, point, trip and payload from
``documents`` (``pfaedle_spark/datagen.py``), so a benchmark input is
one parquet file with the testdata schema ``(doc_id, text, lang,
source, n_chars)``. The seed chooses:

* a trip-aligned ``doc_id`` block: the first id is a multiple of
  ``TRIP_LEN``, and so is the row count, so every trip is complete;
* the caption text, drawn from a fixed vocabulary (the words of the
  testdata captions), with the same 10..100 word length range.

The same seed gives a byte-identical file: numpy's PCG64 stream is
fixed per seed, and the table is written without pandas metadata or
timestamps.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pfaedle_spark.constants import TRIP_LEN

# datagen.dedup_corpus plants copies at doc_id + 1e6 and + 2e6, so every
# generated id must stay below 1e6 for the copies to be collision-free.
MAX_DOC_ID = 1_000_000

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100


def doc_block(seed: int, n_docs: int) -> int:
    """First ``doc_id`` of the seed's block (a multiple of TRIP_LEN)."""
    if n_docs % TRIP_LEN or not 0 < n_docs < MAX_DOC_ID:
        raise ValueError(f"n_docs must be a positive multiple of {TRIP_LEN} below {MAX_DOC_ID}")
    n_blocks = (MAX_DOC_ID - n_docs) // TRIP_LEN
    return int(np.random.default_rng([seed, 0]).integers(n_blocks)) * TRIP_LEN


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    start = doc_block(seed, n_docs)
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = np.asarray(VOCAB)[rng.integers(len(VOCAB), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(words[e - n:e]) for n, e in zip(n_words, ends)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(start, start + n_docs, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.asarray(LANGS)[rng.integers(len(LANGS), size=n_docs)]),
            "source": pa.array([f"src{i}" for i in rng.integers(N_SOURCES, size=n_docs)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def write_documents(sf_dir: str, seed: int, n_docs: int) -> str:
    """Write ``<sf_dir>/documents.parquet``; returns its path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(documents_table(seed, n_docs), path, compression="snappy")
    return path
