"""Output checks. Every job is checked; a failed check fails the job.

Image jobs are checked against ``datagen``'s planted truth with the same
pair arithmetic as ``bench_recall.py``. Registry queries are checked
against their DuckDB ``oracle_sql`` over the same generated tables, by row
count and an order-independent hash of the normalised values (the
comparison ``tests/test_oracle_parity.py`` makes).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd


class CheckFailed(Exception):
    """A job's output is wrong."""


def _pair_count(sizes) -> float:
    sizes = np.asarray(sizes, dtype=np.float64)
    return float(np.sum(sizes * (sizes - 1) / 2))


def cluster_check(
    pred: pd.DataFrame, truth: pd.DataFrame, n_rows: int
) -> dict:
    """Dup-pair recall and precision over the planted truth rows, split
    truth clusters, and the cluster count the truth implies.

    ``pred`` holds (image_id, cluster_id) for every input row; ``truth``
    holds (image_id, cluster_id) for every planted cluster member."""
    if len(pred) != n_rows or pred["image_id"].nunique() != n_rows:
        raise CheckFailed(f"{len(pred)} output rows for {n_rows} inputs")
    merged = truth.merge(
        pred[["image_id", "cluster_id"]],
        on="image_id",
        how="left",
        suffixes=("_t", "_p"),
    )
    if merged["cluster_id_p"].isna().any():
        raise CheckFailed("output lost planted truth rows")
    total = _pair_count(merged.groupby("cluster_id_t").size())
    hit = _pair_count(merged.groupby(["cluster_id_t", "cluster_id_p"]).size())
    predicted = _pair_count(merged.groupby("cluster_id_p").size())
    splits = int((merged.groupby("cluster_id_t")["cluster_id_p"].nunique() > 1).sum())
    truth_clusters = truth["cluster_id"].nunique()
    want_clusters = n_rows - len(truth) + truth_clusters
    got = {
        "recall": hit / total if total else 1.0,
        "precision": hit / predicted if predicted else 1.0,
        "split_truth_clusters": splits,
        "clusters": int(pred["cluster_id"].nunique()),
    }
    if got["recall"] != 1.0 or got["precision"] != 1.0 or splits:
        raise CheckFailed(f"cluster truth mismatch: {got}")
    if got["clusters"] != want_clusters:
        raise CheckFailed(
            f"{got['clusters']} clusters, truth implies {want_clusters}"
        )
    return got


def caption_check(
    pairs: pd.DataFrame, captions: pd.DataFrame, truth: pd.DataFrame
) -> int:
    """Every planted caption pair is covered by the emitted pairs, after
    substituting each endpoint's identity-group representative (the
    stage collapses identical captions onto their min id). Returns the
    number of truth pairs checked."""
    got = set(zip(pairs["id_a"], pairs["id_b"])) | set(
        zip(pairs["id_b"], pairs["id_a"])
    )
    rep_of_caption = captions.groupby("caption")["image_id"].min()
    rep = dict(zip(captions["image_id"], captions["caption"].map(rep_of_caption)))

    def covered(a: str, b: str) -> bool:
        if (a, b) in got:
            return True
        ra, rb = rep[a], rep[b]
        return (
            (a == ra or (a, ra) in got)
            and (b == rb or (b, rb) in got)
            and (ra == rb or (ra, rb) in got)
        )

    if len(truth) == 0:
        raise CheckFailed("corpus has no planted caption pairs")
    missing = [
        (a, b)
        for a, b in zip(truth["image_id_a"], truth["image_id_b"])
        if not covered(a, b)
    ]
    if missing:
        raise CheckFailed(
            f"{len(missing)} of {len(truth)} caption pairs not covered, "
            f"e.g. {missing[:3]}"
        )
    return len(truth)


def _normalise(pdf: pd.DataFrame) -> list[tuple]:
    """Rows as type-tagged tuples with sorted column names and floats
    rounded to 6 places, sorted: equal lists mean equal results."""
    pdf = pdf.rename(columns=str.lower)
    pdf = pdf[sorted(pdf.columns)]
    out = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            kind = type(v).__name__
            if isinstance(v, bool) or kind == "bool_":
                vals.append(("b", bool(v)))
            elif isinstance(v, float) or kind in ("float32", "float64"):
                v = round(float(v), 6)
                vals.append(("f", "nan" if math.isnan(v) else v + 0.0))
            elif isinstance(v, int) or kind in (
                "int8", "int16", "int32", "int64", "uint64"
            ):
                vals.append(("i", int(v)))
            else:
                vals.append((kind, str(v)))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def result_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-independent value hash) of a query result."""
    rows = _normalise(pdf)
    h = hashlib.sha256(repr(sorted(c.lower() for c in pdf.columns)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_digests(table_dir: str, sql: dict[str, str]) -> dict[str, tuple]:
    """DuckDB's digest of every query's oracle SQL over the tables in
    ``table_dir`` (``<name>.parquet`` files)."""
    import duckdb

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(table_dir)):
            name = fn[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(table_dir, fn)}')"
            )
        return {q: result_digest(con.execute(s).df()) for q, s in sql.items()}
    finally:
        con.close()


def registry_check(name: str, pdf: pd.DataFrame, oracle: tuple) -> None:
    got = result_digest(pdf)
    if got != tuple(oracle):
        raise CheckFailed(
            f"{name}: {got[0]} rows, hash {got[1][:12]}; oracle "
            f"{oracle[0]} rows, hash {oracle[1][:12]}"
        )
