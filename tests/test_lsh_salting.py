"""Degenerate LSH buckets (north rule: all-black images and boilerplate
captions make hot band keys): the bucket-verify core keeps a huge
bucket one component with a forest of at most g-1 edges, whether its
members are identical or connect only through one bridge member, emits
nothing for singleton keys, and the shared cap valve bounds every
bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import (
    bucket_rows,
    candidate_edges_compact,
    capped_members,
    verify_buckets,
)

HOT_N = 4000


def _hot_signature(kind: str, k: int):
    """Member i's MinHash in a HOT_N bucket, all sharing band 0.

    identical: one signature for everyone. bridged: member 1 is the
    bridge; even members agree with it on 80/k positions and odd members
    (i >= 3) on 88/k, but even and odd members agree on only 40/k, so the
    two halves connect through member 1 alone. Odd members draw their own
    values at positions 40-79, so every band bucket holding odd members
    also holds the bridge, and the union of the per-band forests stays
    one spanning tree."""
    base = F.sequence(F.lit(0), F.lit(k - 1))
    if kind == "identical":
        return base
    i = F.col("id")
    bridge = F.transform(base, lambda x: F.when(x < 80, x).otherwise(x + 10_000))
    odd = F.transform(
        base,
        lambda x: F.when(x < 40, x)
        .when(x < 80, (i * k + x + 20_000).cast("int"))
        .otherwise(x + 10_000),
    )
    return F.when(i == 1, bridge).when(i % 2 == 0, base).otherwise(odd)


@pytest.mark.parametrize("kind", ["identical", "bridged"])
def test_hot_bucket_is_one_tree_and_singletons_emit_nothing(spark, kind):
    """HOT_N members fill the same band-0 bucket; 500 members with unique
    signatures share no band key. The hot cohort stays one component, its
    edges form one spanning forest (at most HOT_N - 1 across all bands),
    and no singleton key emits an edge."""
    cfg = DedupConfig()
    k = cfg.num_perm
    hot = spark.range(HOT_N).select(
        F.col("id").alias("image_id"), _hot_signature(kind, k).alias("minhash")
    )
    cold = spark.range(10_000, 10_500).select(
        F.col("id").alias("image_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda x: (F.col("id") * 1000 + x).cast("int"),
        ).alias("minhash"),
    )
    sigs = hot.unionByName(cold)
    edges = verify_buckets(candidate_edges_compact(sigs, cfg), cfg).localCheckpoint()

    # a spanning forest, not a clique and not one star per band
    assert edges.count() <= HOT_N - 1
    assert edges.filter(F.col("est_jaccard") < cfg.min_signature_agreement).count() == 0
    comp = connected_components(
        sigs.select(F.col("image_id").alias("id")), edges, id_col="id"
    )
    hot_components = (
        comp.filter(F.col("id") < HOT_N).select("component").distinct().count()
    )
    assert hot_components == 1
    assert edges.filter((F.col("src") >= 10_000) | (F.col("dst") >= 10_000)).count() == 0
    if kind == "bridged":
        # even-odd pairs fail: every odd member hangs off the bridge, and
        # the whole cohort is one tree
        assert edges.count() == HOT_N - 1
        odd_links = edges.filter((F.col("dst") % 2 == 1) & (F.col("dst") >= 3))
        assert odd_links.filter(F.col("src") != 1).count() == 0
        assert odd_links.count() == HOT_N // 2 - 1


def test_max_pairs_per_band_caps_bucket_edges(spark):
    """A bucket above max_pairs_per_band keeps an expected `cap` members
    (lsh.capped_members' hash draw), so its forest has ~cap edges, not
    one per member; buckets below the cap are untouched."""
    cfg = DedupConfig(max_pairs_per_band=50)
    big = spark.range(500).select(
        F.col("id").alias("image_id"), F.lit(0).alias("band"), F.lit(7).alias("key")
    )
    small = spark.range(1000, 1030).select(
        F.col("id").alias("image_id"), F.lit(1).alias("band"), F.lit(8).alias("key")
    )
    members = big.unionByName(small)
    payload = members.select(
        "image_id", F.sequence(F.lit(0), F.lit(cfg.num_perm - 1)).alias("minhash")
    )
    capped = capped_members(
        members, ["band", "key"], "image_id", cfg.max_pairs_per_band
    )
    rows = bucket_rows(
        capped, payload, ["band", "key"], "image_id", "image_id", ["minhash"]
    )
    edges = verify_buckets(rows, cfg)
    n_big = edges.filter(F.col("dst") < 1000).count()
    n_small = edges.filter(F.col("dst") >= 1000).count()
    assert 20 <= n_big <= 100, f"cap not enforced: {n_big} edges"
    assert n_small == 29  # below cap: every member linked


def test_cap_valve_drops_singletons(spark):
    """The valve on the embedding operators' (table, bucket) frame:
    singleton buckets are dropped, buckets within the cap pass whole, and
    a 3-member bucket over a cap of 2 is down-sampled, never dropped."""
    rows = (
        [(0, 7, i) for i in range(3)]     # bucket of 3
        + [(0, 8, 10), (0, 8, 11)]        # bucket of 2
        + [(0, 9, 20), (1, 7, 21)]        # two singletons
    )
    bucketed = spark.createDataFrame(rows, "table int, bucket int, _cid long")
    keys = ["table", "bucket"]
    out = capped_members(bucketed, keys, "_cid", 100)
    assert out.columns == bucketed.columns
    assert {tuple(r) for r in out.collect()} == {
        r for r in rows if r[:2] in {(0, 7), (0, 8)}
    }
    skew = capped_members(bucketed, keys, "_cid", 2).collect()
    assert {(r.table, r.bucket) for r in skew} <= {(0, 7), (0, 8)}
    assert 1 <= sum((r.table, r.bucket) == (0, 7) for r in skew) <= 2
