"""The kernel split computes exactly what signature_extractor computes."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arhivum_spark import datagen
from arhivum_spark.config import DedupConfig
from dedup_bench import kernels


@pytest.fixture(scope="module")
def images(tmp_path_factory):
    d = tmp_path_factory.mktemp("images")
    pdf = datagen.images_pandas(datagen.GenParams(n=40, seed=9, img_hw=32))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), d / "part-0.parquet")
    return str(d)


def test_split_matches_extractor_and_times_every_step(images):
    split = kernels.kernel_split(images, reps=1)
    assert set(split) == set(kernels.STEPS)
    assert all(us > 0 for us in split.values())


def test_planted_signature_difference_is_caught(images):
    cfg = DedupConfig()
    a, b = kernels.mh.permutations(cfg.num_perm, cfg.minhash_seed)
    batch = next(pq.ParquetFile(f"{images}/part-0.parquet").iter_batches(columns=kernels._COLUMNS))
    _, pdf, out = kernels._split_once(batch, cfg, a, b)
    kernels.check_against_extractor(pdf, out, cfg)
    out.at[0, "simhash"] = out.at[0, "simhash"] ^ 1
    with pytest.raises(kernels.KernelMismatch, match="simhash"):
        kernels.check_against_extractor(pdf, out, cfg)
