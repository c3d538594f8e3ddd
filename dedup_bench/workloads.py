"""The benchmark's workloads. Each is one closed loop: a single client runs
one job at a time and checks its output before starting the next.

A workload prepares its inputs (before the set-up clock), runs job ``k``
(timed by the caller, output check included) and, for traced jobs,
reports counts read from what the job left on disk.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import nullcontext

import pyarrow.parquet as pq

from dedup_bench import checks, inputs

STAGES = (
    "s1_signatures",
    "s2_exact",
    "s3_candidates",
    "s3b_psnr",
    "s4_clusters",
    "s5_captions",
)

# The registry queries that run the operators the image pipeline shares,
# cut to what fits the per-run time budget (README.md "Workloads"): s2's
# exact-dedup grouping and first-wins flag, s3's MinHash-LSH core on
# documents, and s5's substring containment.
QUERIES = (
    "a1_dup_groups",
    "w1_first_wins_flag",
    "docs_minhash_lsh_pairs",
    "substring_containment_pairs",
)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _parquet_rows_mb(path: str) -> tuple[int, float]:
    rows, size = 0, 0
    for fn in os.listdir(path):
        full = os.path.join(path, fn)
        size += os.path.getsize(full)
        if fn.endswith(".parquet"):
            rows += pq.read_metadata(full).num_rows
    return rows, size / 2**20


class ImageFull:
    """``cli.run`` with ``--captions-out`` over the seeded datagen corpus,
    with a fresh stage root per job, so s1 to s5 all run from raw bytes."""

    name = "image-full"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self._candidates = None

    def prepare(self, cache_root: str) -> None:
        from arhivum_spark import datagen

        seed = self.seed
        path = inputs.cached(
            cache_root, self.name, seed, lambda d: inputs.write_images(d, seed)
        )
        self.images = os.path.join(path, "images")
        p = inputs.image_params(seed)
        self.truth = datagen.truth_clusters(p)
        self.caption_truth = datagen.truth_caption_pairs(p)
        self.captions = pq.read_table(
            self.images, columns=["image_id", "caption"]
        ).to_pandas()

    def _paths(self, k: int) -> tuple[str, str, str]:
        root = os.path.join(self.work, f"job{k}")
        return (
            os.path.join(root, "out"),
            os.path.join(root, "captions"),
            os.path.join(root, "stages"),
        )

    def trace_hooks(self, tracer) -> None:
        from arhivum_spark.plans import image_dedup

        def keep(df):
            self._candidates = df

        tracer.wrap_function(image_dedup, "candidate_edges_compact", keep)

    def run_job(self, spark, k: int, tracer=None) -> None:
        from arhivum_spark import cli

        out, caps, stages = self._paths(k)
        if tracer is not None:
            tracer.output_paths = {out, caps}
        with _span(tracer, "cli.run"):
            cli.run(
                [
                    "--input", self.images,
                    "--output", out,
                    "--stage-dir", stages,
                    "--captions-out", caps,
                ],
                spark=spark,
            )
        pred = pq.read_table(out, columns=["image_id", "cluster_id"]).to_pandas()
        checks.cluster_check(pred, self.truth, inputs.IMAGE_ROWS)
        checks.caption_check(
            pq.read_table(caps).to_pandas(), self.captions, self.caption_truth
        )

    def trace_counts(self, k: int) -> dict[str, float]:
        """Rows and snapshot sizes of the job's committed stages, plus the
        LSH candidate count (one extra Spark job, outside the job's wall)."""
        _, _, stages = self._paths(k)
        out: dict[str, float] = {}
        rows = {}
        for stage in STAGES:
            data = os.path.join(stages, stage, "data")
            rows[stage], out[f"{stage}.snapshot_mb"] = _parquet_rows_mb(data)
        s2 = pq.read_table(os.path.join(stages, "s2_exact", "data"))
        s4 = pq.read_table(
            os.path.join(stages, "s4_clusters", "data"), columns=["cluster_id"]
        )
        candidates = self._candidates.count()
        out.update(
            {
                "s1_signatures.rows": rows["s1_signatures"],
                "s2_exact.dups": s2.column("is_duplicate").to_pandas().sum(),
                "s3_candidates.candidates": candidates,
                "s3_candidates.verified": rows["s3_candidates"],
                "s3_candidates.verify_ratio": rows["s3_candidates"]
                / max(candidates, 1),
                "s3b_psnr.edges_in": rows["s3_candidates"],
                "s3b_psnr.pass_ratio": rows["s3b_psnr"]
                / max(rows["s3_candidates"], 1),
                "s4_clusters.components": s4.column("cluster_id")
                .to_pandas()
                .nunique(),
                "s5_captions.pairs": rows["s5_captions"],
            }
        )
        return {k_: float(v) for k_, v in out.items()}

    def cleanup(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"job{k}"), ignore_errors=True)


class RegistryOps:
    """The ``QUERIES`` over seeded tables of the registry's schemas, each
    collected with ``toPandas`` and checked against its DuckDB oracle."""

    name = "registry-ops"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self, cache_root: str) -> None:
        from arhivum_spark.queries import REGISTRY

        seed = self.seed

        def build(d: str) -> None:
            tables = os.path.join(d, "tables")
            os.makedirs(tables)
            inputs.write_tables(tables, seed)
            oracle = checks.oracle_digests(
                tables, {q: REGISTRY[q][1] for q in QUERIES}
            )
            with open(os.path.join(d, "oracle.json"), "w") as f:
                json.dump(oracle, f)

        path = inputs.cached(cache_root, self.name, seed, build)
        self.tables = os.path.join(path, "tables")
        with open(os.path.join(path, "oracle.json")) as f:
            self.oracle = json.load(f)
        self.fns = {q: REGISTRY[q][0] for q in QUERIES}

    def trace_hooks(self, tracer) -> None:
        pass

    def run_job(self, spark, k: int, tracer=None) -> None:
        failed = []
        for q in QUERIES:
            with _span(tracer, f"q.{q}"):
                pdf = self.fns[q](spark, self.tables).toPandas()
            try:
                checks.registry_check(q, pdf, self.oracle[q])
            except checks.CheckFailed as e:
                failed.append(str(e))
        if failed:
            raise checks.CheckFailed("; ".join(failed))

    def trace_counts(self, k: int) -> dict[str, float]:
        return {}

    def cleanup(self, k: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (ImageFull, RegistryOps)}
