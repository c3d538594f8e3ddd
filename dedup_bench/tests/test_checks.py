"""The output checks fail on planted wrong outputs."""

from __future__ import annotations

import pandas as pd
import pytest

from arhivum_spark import datagen
from arhivum_spark.queries import REGISTRY
from dedup_bench import checks, inputs

P = datagen.GenParams(n=300, seed=5, img_hw=16)


def _perfect_prediction() -> pd.DataFrame:
    truth = datagen.truth_clusters(P)
    ids = [f"img-{i:010d}" for i in range(P.n)]
    cluster = dict(zip(truth["image_id"], truth["cluster_id"]))
    return pd.DataFrame({"image_id": ids, "cluster_id": [cluster.get(i, i) for i in ids]})


def test_truth_assignment_passes():
    got = checks.cluster_check(_perfect_prediction(), datagen.truth_clusters(P), P.n)
    assert got["recall"] == 1.0 and got["precision"] == 1.0


def test_planted_wrong_cluster_fails_recall():
    truth = datagen.truth_clusters(P)
    pred = _perfect_prediction()
    member = truth["image_id"].iloc[-1]
    pred.loc[pred["image_id"] == member, "cluster_id"] = "elsewhere"
    with pytest.raises(checks.CheckFailed, match="recall"):
        checks.cluster_check(pred, truth, P.n)


def test_planted_false_merge_fails_cluster_count():
    truth = datagen.truth_clusters(P)
    pred = _perfect_prediction()
    loners = sorted(set(pred["image_id"]) - set(truth["image_id"]))[:2]
    pred.loc[pred["image_id"].isin(loners), "cluster_id"] = "merged"
    with pytest.raises(checks.CheckFailed, match="clusters"):
        checks.cluster_check(pred, truth, P.n)


def test_missing_caption_pair_fails():
    truth = datagen.truth_caption_pairs(P)
    caps = datagen.images_pandas(P)[["image_id", "caption"]]
    pairs = truth.rename(columns={"image_id_a": "id_a", "image_id_b": "id_b"})
    assert checks.caption_check(pairs, caps, truth) == len(truth)
    with pytest.raises(checks.CheckFailed, match="not covered"):
        checks.caption_check(pairs.iloc[1:], caps, truth)


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = tmp_path_factory.mktemp("tables")
    inputs.write_tables(str(d), seed=3)
    return str(d)


def test_planted_wrong_registry_row_fails_oracle(tables):
    import duckdb

    sql = REGISTRY["a1_dup_groups"][1]
    oracle = checks.oracle_digests(tables, {"a1_dup_groups": sql})["a1_dup_groups"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tables}/documents.parquet')"
    )
    result = con.execute(sql).df()
    con.close()
    checks.registry_check("a1_dup_groups", result, oracle)

    wrong = result.copy()
    wrong.loc[0, "n_files"] += 1
    with pytest.raises(checks.CheckFailed):
        checks.registry_check("a1_dup_groups", wrong, oracle)
    with pytest.raises(checks.CheckFailed):
        checks.registry_check("a1_dup_groups", result.iloc[1:], oracle)
