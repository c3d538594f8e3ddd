"""The s1 kernel split: microseconds per image for each step of
``signature_extractor``, timed by calling the same public functions on
one Arrow batch of the benchmark's own corpus, in this process.

The composed result must equal ``signature_extractor``'s output for the
same batch, so the split times the code the pipeline runs.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from arhivum_spark import codec
from arhivum_spark.config import DedupConfig
from arhivum_spark.functions import minhash as mh
from arhivum_spark.functions import simhash as sh
from arhivum_spark.functions.signatures import signature_extractor
from arhivum_spark.session import ARROW_BATCH_FOR_BINARY

STEPS = (
    "arrow_in", "sha256", "decode", "gray", "shingles", "minhash",
    "simhash", "arrow_out",
)
_COLUMNS = ["image_id", "bytes", "caption", "fmt", "w", "h", "phash"]


class KernelMismatch(Exception):
    """The composed kernels disagree with signature_extractor."""


def _split_once(batch: pa.RecordBatch, cfg: DedupConfig, a, b):
    t = {}
    t0 = time.perf_counter()
    pdf = batch.to_pandas()
    t["arrow_in"] = time.perf_counter() - t0
    blobs = [bytes(x) for x in pdf["bytes"]]

    t0 = time.perf_counter()
    shas = [hashlib.sha256(x).hexdigest() for x in blobs]
    t["sha256"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    pixels = [codec.decode(x) for x in blobs]
    t["decode"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    grays = [mh.to_gray(p) for p in pixels]
    t["gray"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    sets = [mh.block_shingles(g, cfg.block, cfg.gray_qstep) for g in grays]
    t["shingles"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    sigs = mh.minhash_batch(sets, a, b)
    t["minhash"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    simhashes = sh.simhash_batch(list(pdf["caption"]))
    t["simhash"] = time.perf_counter() - t0

    out = pd.DataFrame(
        {
            "image_id": pdf["image_id"].values,
            "caption": pdf["caption"].values,
            "fmt": pdf["fmt"].values,
            "w": pdf["w"].values,
            "h": pdf["h"].values,
            "content_sha256": shas,
            "minhash": list(sigs),
            "simhash": simhashes,
            "phash": pdf["phash"].values,
            "dec_w": np.array([p.shape[1] for p in pixels], dtype=np.int32),
            "dec_h": np.array([p.shape[0] for p in pixels], dtype=np.int32),
        }
    )
    t0 = time.perf_counter()
    pa.RecordBatch.from_pandas(out, preserve_index=False)
    t["arrow_out"] = time.perf_counter() - t0
    return t, pdf, out


def check_against_extractor(pdf: pd.DataFrame, out: pd.DataFrame, cfg) -> None:
    (ref,) = list(signature_extractor(cfg)(iter([pdf])))
    for col in ref.columns:
        want, got = ref[col].tolist(), out[col].tolist()
        if col == "minhash":
            want = [list(map(int, v)) for v in want]
            got = [list(map(int, v)) for v in got]
        else:
            want = [v.item() if hasattr(v, "item") else v for v in want]
            got = [v.item() if hasattr(v, "item") else v for v in got]
        if want != got:
            raise KernelMismatch(f"column {col} differs from signature_extractor")


def kernel_split(images_dir: str, reps: int = 3) -> dict[str, float]:
    """Median over ``reps`` passes of each step's microseconds per image,
    on the first Arrow batch (``ARROW_BATCH_FOR_BINARY`` rows) of the
    corpus."""
    cfg = DedupConfig()
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)
    first = sorted(f for f in os.listdir(images_dir) if f.endswith(".parquet"))[0]
    batch = next(
        pq.ParquetFile(os.path.join(images_dir, first)).iter_batches(
            batch_size=ARROW_BATCH_FOR_BINARY, columns=_COLUMNS
        )
    )
    runs = []
    for _ in range(reps):
        t, pdf, out = _split_once(batch, cfg, a, b)
        runs.append(t)
    check_against_extractor(pdf, out, cfg)
    n = batch.num_rows
    return {
        step: float(np.median([r[step] for r in runs])) / n * 1e6
        for step in STEPS
    }
