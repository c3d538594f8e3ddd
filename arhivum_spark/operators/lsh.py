"""LSH banding and the one bucket-verify core.

Generalizes the reference's hash-equality probe join (J1,
ScannedFileRepository.findBySha256) to near-duplicates: the MinHash
signature is split into `bands` bands of `rows_per_band` values; two images
that share any band key are candidates (P[share a band] = 1-(1-J^r)^b).

The core has three steps, shared by the image stage s3, document MinHash
(dedup_text.minhash_lsh_pairs) and, through the first two, the embedding
LSH operators (embeddings.rhp_*):

1. **Membership behind one cap valve** (`capped_members`): the band
   explode (`band_keys`) is counted per (band, key) with a map-side
   combined aggregate; only buckets with >= 2 members survive, and a
   bucket above `max_pairs_per_band` keeps an expected `cap` members by
   deterministic hash draw (SURVEY §4 degenerate-content valve). Singleton
   buckets, the overwhelming majority, never move past the count.
2. **Bucket rows** (`bucket_rows`): the payload (MinHash arrays) is joined
   onto the surviving member rows only — never onto the rows x bands
   explode (*Hyper Dimension Shuffle*: payload travels only with rows that
   can pair) — and grouped into one row per bucket, members ordered by id.
3. **One verify kernel per Arrow batch** (`verify_buckets`): mapInPandas
   hands the kernel a batch of bucket rows — one Python call per batch, not
   one per bucket (an applyInPandas group costs ~1.5 ms) — and
   `spanning_forest` emits, for every bucket, a spanning forest of the
   pairs whose full-signature agreement clears `min_signature_agreement`.
   Two members share a tree exactly when verified pairs inside the bucket
   connect them, so no member is orphaned by which id happens to be
   smallest; connected components downstream restores the clusters.

Exact-dedup runs first: byte-identical rows collapse to one representative
BEFORE banding (the reference's skip-expensive-work-for-duplicates
optimization, ScanCommand.java:342-353), so degenerate cohorts (all-black
images) enter the bucket stage as a handful of distinct contents.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig


def band_keys(sig_df: DataFrame, cfg: DedupConfig, id_col: str = "image_id") -> DataFrame:
    """Explode each signature into (id_col, band, key) — JVM-side only.

    key = xxhash64 of the band's signature slice (plus band index so
    identical slices in different bands don't collide). The key MUST be
    64-bit: with 32-bit Murmur3 keys, rows x bands distinct slices
    birthday-collide at an n^2 rate — ~690k falsely-merged buckets at
    2.4M images (76.8M band values), and ~7,400 garbage occupants in
    EVERY bucket at the 10^12-row north-rule scale (3.2e13 values into
    2^32). At 2^64 the 2.4M load expects ~1e-4 colliding keys.

    The id column that rides through the explode and the bucket count
    should be a LONG, not a string: at rows x bands scale every byte of
    the key is shuffle traffic (see candidate_edges_compact).
    """
    r = cfg.rows_per_band
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(F.slice(F.col("minhash"), b * r + 1, r), b),
    )
    return sig_df.select(
        F.col(id_col), F.posexplode(bands_arr).alias("band", "key")
    )


def capped_members(
    members: DataFrame, bucket_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """The cap valve: (bucket_cols..., id_col) membership rows -> the rows
    of buckets with >= 2 members, each bucket above `cap` members
    down-sampled to an expected `cap` of them by deterministic hash draw.

    The bucket count is a map-side combined aggregate, so a hot key never
    funnels into one partition and no bucket's member list is ever
    assembled before the cap applies. A bucket this big after exact dedup
    means pathological near-identical variety (zero vectors, boilerplate
    content); sampled-out members may cost recall there, which is the
    documented trade. Lazy: no Spark job runs until the result is used."""
    sizes = (
        members.groupBy(*bucket_cols)
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") >= 2)
    )
    draw = F.pmod(F.xxhash64(id_col, *bucket_cols), F.col("_bn"))
    return (
        members.join(sizes, bucket_cols)
        .filter((F.col("_bn") <= cap) | (draw < cap))
        .drop("_bn")
    )


def bucket_rows(
    members: DataFrame,
    payload: DataFrame,
    bucket_cols: list[str],
    join_col: str,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Capped member rows + payload -> one row per bucket: bucket_cols,
    `ids` (array, ascending) and one aligned array per payload column.

    The payload joins onto member rows only. Buckets the cap left with a
    single member are dropped."""
    m = (
        members.join(payload, join_col)
        .groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(F.struct(id_col, *cols))).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    return m.select(
        *bucket_cols,
        F.col(f"_m.{id_col}").alias("ids"),
        *[F.col(f"_m.{c}").alias(c) for c in cols],
    )


def flatten(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """A non-empty bucket-row array column -> (offsets, concatenated member
    values): bucket b's members are values[offsets[b]:offsets[b + 1]]."""
    arrs = col.to_numpy()
    offs = np.concatenate(([0], np.cumsum([len(a) for a in arrs])))
    return offs, np.concatenate(arrs)


def candidate_edges_compact(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "image_id"
) -> DataFrame:
    """Candidate buckets: one row (band, key, ids, minhash) per capped
    (band, key) bucket with >= 2 members, members ordered by id.

    The explode and the bucket count carry a compact long surrogate
    (xxhash64 of the id — collision odds n^2/2^65) instead of the 14+-byte
    string id, cutting their shuffle bytes ~2x; the original id and the
    MinHash ride along only on the payload join of step 2. (The traced
    benchmark, dedup_bench, counts this function's output as s3's
    candidates.)
    """
    keyed = sig_df.select(
        F.xxhash64(F.col(id_col)).alias("_iid"), F.col(id_col), "minhash"
    )
    members = capped_members(
        band_keys(keyed.select("_iid", "minhash"), cfg, id_col="_iid"),
        ["band", "key"],
        "_iid",
        cfg.max_pairs_per_band,
    )
    return bucket_rows(
        members, keyed, ["band", "key"], "_iid", id_col, ["minhash"]
    )


def _agreement(sig: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Count of equal signature positions for member pairs (i, j), in
    row chunks so the gathered pair blocks stay small at the bucket cap."""
    out = np.empty(len(i), dtype=np.int64)
    step = 1 << 14
    for a in range(0, len(i), step):
        b = a + step
        out[a:b] = np.count_nonzero(sig[i[a:b]] == sig[j[a:b]], axis=1)
    return out


def spanning_forest(
    offs: np.ndarray, sig: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Verified spanning forest of every bucket in a batch.

    offs: (B+1,) member offsets; members of bucket b are rows
    offs[b]:offs[b+1] of sig, ordered by id. sig: (M, P) signatures.
    Returns member-index arrays (i, j) with i < j in the same bucket, and
    est = agreement(i, j) / P >= threshold for each emitted edge.

    Round r handles the r-th member of every bucket at once: it is scored
    against the later members of its bucket that are NOT already in its
    tree, and links one passing member of each other tree it reaches.
    Every verified pair (i, j) is either scored at row i or already
    connected by then, so trees are exactly the connected components of
    the verified pairs. A bucket retires once no later member sits outside
    the current row's tree; a bucket whose members all verify against its
    first member therefore costs one row of P-wide comparisons.
    BLAS-free numpy (nested-thread rule, docs/ENGINEERING_NOTES.md).
    """
    sizes = np.diff(offs)
    n_members, n_perm = sig.shape
    lab = np.arange(n_members)  # tree label: a member index of the tree
    live = sizes >= 2
    out_i, out_j, out_e = [], [], []
    r = 0
    while True:
        live &= sizes > r + 1
        buckets = np.flatnonzero(live)
        if not len(buckets):
            break
        rows = offs[buckets] + r
        n = offs[buckets + 1] - rows - 1  # >= 1 for every live bucket
        starts = np.cumsum(n) - n
        i = np.repeat(rows, n)
        j = i + 1 + np.arange(n.sum()) - np.repeat(starts, n)
        outside = lab[j] != lab[i]
        # no later member outside this row's tree: the bucket is one tree
        # from here on
        live[buckets[~np.logical_or.reduceat(outside, starts)]] = False
        i, j = i[outside], j[outside]
        est = _agreement(sig, i, j) / n_perm
        ok = est >= threshold
        i, j, est = i[ok], j[ok], est[ok]
        # one edge per other tree reached: its lowest-id passing member
        _, first = np.unique(lab[j], return_index=True)
        i, j, est = i[first], j[first], est[first]
        remap = np.arange(n_members)
        remap[lab[j]] = lab[i]
        lab = remap[lab]
        out_i.append(i)
        out_j.append(j)
        out_e.append(est)
        r += 1
    if not out_i:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_e)


def verify_buckets(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Bucket rows (ids, minhash) -> distinct verified edges
    (src, dst, est_jaccard), src < dst.

    est_jaccard is the fraction of equal MinHash positions of that pair
    (unbiased Jaccard estimate, the true-Jaccard generalization of the
    reference's calculateSimilarity proxy); every edge clears
    cfg.min_signature_agreement. A pair sharing several bands is emitted
    once."""
    id_t = buckets.schema["ids"].dataType.elementType.simpleString()
    threshold = cfg.min_signature_agreement

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            offs, ids = flatten(pdf["ids"])
            sig = np.stack(flatten(pdf["minhash"])[1])
            i, j, est = spanning_forest(offs, sig, threshold)
            yield pd.DataFrame(
                {"src": ids[i], "dst": ids[j], "est_jaccard": est}
            )

    return (
        buckets.select("ids", "minhash")
        .mapInPandas(kernel, f"src {id_t}, dst {id_t}, est_jaccard double")
        .dropDuplicates(["src", "dst"])
    )
