"""Seeded benchmark inputs, generated before the set-up clock and cached.

Each workload's inputs (and, for registry-ops, their oracle results) are a
pure function of ``--seed`` and the source of the code that makes them:
this benchmark's files plus the product modules the generators and oracle
draw on. The cache key is ``(workload, seed, source hash)``, so an edit to
any of them invalidates every cached entry.

The program under test never sees the seed, only the files written here.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from arhivum_spark import datagen

# Image corpus shape (README.md "Workloads" and "Sizing"): a job here is
# mostly per-stage Spark overhead, so this is sized for the per-run time
# budget, not for s1's share of a production-scale job.
IMAGE_ROWS = 600
IMAGE_HW = 128
# Row groups bound each parquet split to a few MB, so a scan fills every
# core the way a production table of many files does.
IMAGE_ROW_GROUP = 64

# Registry table: the documents schema the measured queries read.
DOC_ROWS = 500
DOC_VOCAB = [
    "a", "the", "data", "table", "row", "column", "query", "join", "scan",
    "hash", "sort", "merge", "group", "agg", "window", "filter", "batch",
    "stream", "part", "line", "order", "customer", "key", "value", "fast",
    "slow", "big", "small", "spark", "vector",
]
DOC_SOURCES = 20
DOC_NEARDUP_EVERY = 10  # every 10th document is a one-token edit of another

MAX_CACHED = 24

_PRODUCT = os.path.dirname(datagen.__file__)
_SOURCES = sorted(
    glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "*.py"))
) + [
    os.path.join(_PRODUCT, rel)
    for rel in ("datagen.py", "codec.py", "functions/phash.py", "queries.py")
]


def source_hash() -> str:
    h = hashlib.sha256()
    for path in _SOURCES:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def image_params(seed: int) -> datagen.GenParams:
    return datagen.GenParams(n=IMAGE_ROWS, seed=seed, img_hw=IMAGE_HW)


def cached(cache_root: str, workload: str, seed: int, build) -> str:
    """Directory holding ``build(dir)``'s output for this key, built on a
    miss. Entries are written under a temporary name and renamed into
    place, so a killed run never leaves a half-written entry behind."""
    os.makedirs(cache_root, exist_ok=True)
    path = os.path.join(cache_root, f"{workload}-{seed}-{source_hash()}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for old in entries[:-MAX_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def write_images(out_dir: str, seed: int) -> None:
    """The datagen corpus as one parquet file of ``IMAGE_ROW_GROUP``-row
    groups; Spark splits it across the cores by row group."""
    images = os.path.join(out_dir, "images")
    os.makedirs(images)
    pq.write_table(
        pa.Table.from_pandas(
            datagen.images_pandas(image_params(seed)), preserve_index=False
        ),
        os.path.join(images, "part-00000.parquet"),
        row_group_size=IMAGE_ROW_GROUP,
    )


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """Random token texts plus planted near-duplicates: document i with
    i % DOC_NEARDUP_EVERY == DOC_NEARDUP_EVERY - 1 copies document
    i - DOC_NEARDUP_EVERY + 1 with one token replaced. Planted pairs sit at
    3-gram Jaccard >= 0.85 and random pairs near 0, so no pair is near the
    LSH query's 0.5 agreement bound or its oracle's 0.2 Jaccard bound."""
    texts: list[list[str]] = []
    for i in range(DOC_ROWS):
        if i % DOC_NEARDUP_EVERY == DOC_NEARDUP_EVERY - 1:
            # each planted copy has its own random source document, so no
            # two copies are two edits apart
            toks = list(texts[i - DOC_NEARDUP_EVERY + 1])
            toks[int(rng.integers(0, len(toks)))] = DOC_VOCAB[
                int(rng.integers(0, len(DOC_VOCAB)))
            ]
        else:
            n = int(rng.integers(40, 61))
            toks = [DOC_VOCAB[k] for k in rng.integers(0, len(DOC_VOCAB), n)]
        texts.append(toks)
    text = [" ".join(t) for t in texts]
    return pd.DataFrame(
        {
            "doc_id": np.arange(DOC_ROWS, dtype=np.int64),
            "text": text,
            "lang": "en",
            "source": [f"src{i % DOC_SOURCES}" for i in range(DOC_ROWS)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """The registry table the measured queries read, as
    ``documents.parquet`` (the layout ``sources.tables.load_table``
    reads)."""
    pq.write_table(
        pa.Table.from_pandas(
            _documents(np.random.default_rng(seed)), preserve_index=False
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

