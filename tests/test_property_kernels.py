"""Property-based tests (hypothesis) for the vectorized numpy kernels.

Each batch kernel must agree with its readable scalar reference on
ARBITRARY inputs — unicode, whitespace runs, empty docs, single chars —
not just the seeded corpora the integration tests use. Kernel bugs here
corrupt signatures silently (dedup recall loss, not crashes), so the
reference-equivalence property is the real safety net.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import re

# the kernels' documented tokenization contract: ASCII whitespace
# (space/tab/LF/CR/VT/FF), runs collapsed — NARROWER than str.split()
_TOKEN_RE = re.compile(r"[^ \t\n\r\x0b\x0c]+")


def _contract_tokens(text: str) -> list[str]:
    return _TOKEN_RE.findall(text)

# text INCLUDING NUL (legal in Spark strings; the round-4 kernels derive
# doc boundaries from per-doc lengths so NUL is an ordinary token char) —
# only lone surrogates excluded (not UTF-8 encodable, impossible in Spark
# string columns)
texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        max_size=60,
    ),
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_simhash_batch_equals_scalar(caps):
    from arhivum_spark.functions import simhash as sh

    ref = np.array(
        [sh.simhash64(_contract_tokens(c)) for c in caps], dtype=np.int64
    )
    got = sh.simhash_batch(caps)
    assert got.dtype == np.int64
    assert (got == ref).all()


def test_embedded_nul_does_not_shift_doc_boundaries():
    """Regression (round-4 ADVICE): a caption with an embedded NUL must
    hash the NUL as an ordinary char (scalar semantics) and must not
    corrupt LATER docs in the same Arrow batch. The pre-fix sentinel
    scheme split 'a\\x00b' into two phantom docs, shifting every
    subsequent signature."""
    from arhivum_spark.functions import simhash as sh
    from arhivum_spark.operators.dedup_text import _gram_hash_batch

    caps = ["a\x00b c", "\x00", "x\x00", "plain text", "", "\x00\x00tail"]
    ref = np.array(
        [sh.simhash64(_contract_tokens(c)) for c in caps], dtype=np.int64
    )
    assert (sh.simhash_batch(caps) == ref).all()
    # later docs unchanged vs a batch without the NUL-bearing doc
    assert (sh.simhash_batch(caps[3:]) == ref[3:]).all()
    for text, g in zip(caps, _gram_hash_batch(caps, 2)):
        assert set(int(x) for x in g) == _gram_ref(text, 2)


def _gram_ref(text: str, ngram: int) -> set:
    """Readable reference for _gram_hash_batch: same polynomial/splitmix
    arithmetic, per-token python ints."""
    from arhivum_spark.functions.simhash import _splitmix64_int

    B = 0x100000001B3
    P = 0x9E3779B97F4A7C15
    M = (1 << 64) - 1

    def tok_hash(t: str) -> int:
        h, p = 0, 1
        for byte in t.encode("utf-8"):
            h = (h + byte * p) & M
            p = (p * B) & M
        return _splitmix64_int(h)

    toks = [tok_hash(t) for t in _contract_tokens(text)]
    if not toks:
        return {1}
    grams = []
    if len(toks) >= ngram:
        for i in range(len(toks) - ngram + 1):
            h = 0
            for j in range(ngram):
                h = (h * P + toks[i + j]) & M
            grams.append(h)
    else:
        h = 0
        for t in toks:
            h = (h * P + t) & M
        grams.append(h)
    out = set()
    for g in grams:
        v = _splitmix64_int(g)
        out.add(v - (1 << 64) if v >= (1 << 63) else v)
    return out


@settings(max_examples=150, deadline=None)
@given(texts, st.integers(min_value=1, max_value=4))
def test_gram_hash_batch_equals_reference(docs, ngram):
    from arhivum_spark.operators.dedup_text import _gram_hash_batch

    got = _gram_hash_batch(docs, ngram)
    assert len(got) == len(docs)
    for text, g in zip(docs, got):
        assert set(int(x) for x in g) == _gram_ref(text, ngram)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        max_size=60,
    )
)
def test_star_cc_equals_union_find(edges):
    """connected_components_star AND the default label-prop+pointer-jump
    algorithm against a classic driver-side union-find on arbitrary small
    graphs (run on a shared local session)."""
    from tests.conftest import get_shared_spark
    from arhivum_spark.operators.connected_components import (
        connected_components,
        connected_components_star,
    )

    spark = get_shared_spark()
    n = 41
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(n)}

    vertices = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = [(a, b) for a, b in edges if a != b]
    if e:
        edf = spark.createDataFrame(e, ["src", "dst"])
    else:
        edf = spark.createDataFrame([], "src int, dst int")
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(vertices, edf, id_col="id").collect()
    }
    assert got == expect
    got_lp = {
        r["id"]: r["component"]
        for r in connected_components(
            vertices, edf, id_col="id", fallback_star=False
        ).collect()
    }
    assert got_lp == expect


# ---------------------------------------------------------------------------
# LSH bucket-verify kernel vs brute-force union-find over verified pairs

buckets = st.lists(
    # one bucket: members' 8-position signatures over a 2-symbol alphabet,
    # so pair agreement spans the whole [0, 1] range
    st.lists(
        st.lists(st.integers(min_value=0, max_value=1), min_size=8, max_size=8),
        min_size=1,
        max_size=9,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=300, deadline=None)
@given(buckets, st.sampled_from([0.25, 0.5, 0.625, 0.875, 1.0]))
def test_spanning_forest_equals_union_find(bucket_sigs, threshold):
    """lsh.spanning_forest on a batch of random small buckets: every
    emitted edge verifies on its own pair, stays inside one bucket in id
    order, and the forest's components equal a brute-force union-find
    over ALL verified pairs of each bucket, with no redundant edge."""
    from arhivum_spark.operators.lsh import spanning_forest

    sizes = [len(b) for b in bucket_sigs]
    offs = np.concatenate(([0], np.cumsum(sizes)))
    sig = np.array([m for b in bucket_sigs for m in b], dtype=np.int32)
    i, j, est = spanning_forest(offs, sig, threshold)

    def agree(a, b):
        return float(np.mean(sig[a] == sig[b]))

    def components(n, pairs):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        return [find(x) for x in range(n)]

    assert all(e == agree(a, b) >= threshold for a, b, e in zip(i, j, est))
    assert len({(a, b) for a, b in zip(i, j)}) == len(i)
    for lo, hi in zip(offs[:-1], offs[1:]):
        mine = (i >= lo) & (i < hi)
        assert ((j[mine] > i[mine]) & (j[mine] < hi)).all()
        n = hi - lo
        verified = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if agree(lo + a, lo + b) >= threshold
        ]
        ref = components(n, verified)
        got = components(n, list(zip(i[mine] - lo, j[mine] - lo)))
        # same partition, and a forest: one edge per merge
        assert len(set(zip(ref, got))) == len(set(ref)) == len(set(got))
        assert mine.sum() == n - len(set(ref))


# ---------------------------------------------------------------------------
# Suffix array kernels vs naive oracles (arbitrary small inputs)

byte_strings = st.lists(
    st.integers(min_value=0, max_value=7), min_size=1, max_size=40
)


@settings(max_examples=200, deadline=None)
@given(byte_strings)
def test_suffix_array_equals_sorted_suffixes(symbols):
    """build_suffix_array (prefix doubling) against the definitional
    sort-all-suffixes oracle. Tiny alphabet (0..7) maximizes ties, the
    regime where doubling-rank bugs hide."""
    from arhivum_spark.functions import suffix_array as sa

    s = np.array(symbols, dtype=np.int64)
    got = list(sa.build_suffix_array(s))
    expect = sorted(range(len(symbols)), key=lambda i: symbols[i:])
    assert got == expect


@settings(max_examples=200, deadline=None)
@given(byte_strings, st.lists(st.integers(min_value=0, max_value=7),
                              min_size=1, max_size=6))
def test_contains_query_equals_substring_search(symbols, query):
    from arhivum_spark.functions import suffix_array as sa

    s = np.array(symbols, dtype=np.int64)
    arr = sa.build_suffix_array(s)
    q = np.array(query, dtype=np.int64)
    expect = bytes(symbols) .find(bytes(query)) != -1
    assert sa.contains_query(s, arr, q) == expect


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=3), max_size=10),
        min_size=1,
        max_size=6,
    )
)
def test_find_contained_equals_naive(doc_lists):
    """Generalized-suffix-array containment vs the O(n^2 m) definition.
    Alphabet 0..3 with docs up to length 10 makes real containments
    common; empty docs exercise the skip path."""
    from arhivum_spark.functions import suffix_array as sa

    docs = [np.array(d, dtype=np.int64) for d in doc_lists]
    got = set(sa.find_contained(docs))
    expect = set()
    for i, a in enumerate(doc_lists):
        if not a:
            continue
        for j, b in enumerate(doc_lists):
            if i != j and bytes(b).find(bytes(a)) != -1:
                expect.add((i, j))
    assert got == expect


# ---------------------------------------------------------------------------
# MinHash batch kernel: permutation invariance + estimator accuracy

shingle_sets = st.lists(
    st.lists(
        st.integers(min_value=0, max_value=2**31 - 2), min_size=1, max_size=30
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=100, deadline=None)
@given(shingle_sets, st.randoms(use_true_random=False))
def test_minhash_batch_set_semantics(sets, rnd):
    """A MinHash signature is a function of the shingle SET: element
    order and multiplicity must not matter, and batch slicing must not
    leak state across segments (the reduceat offsets are the sharp
    edge). Signature values stay inside the 31-bit hash space."""
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.functions import minhash as mh

    cfg = DedupConfig()
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)
    arrays = [np.array(s, dtype=np.int64) for s in sets]
    sig = mh.minhash_batch(arrays, a, b)
    shuffled = []
    for s in sets:
        dup = list(s) + [rnd.choice(s)]  # add a duplicate element
        rnd.shuffle(dup)
        shuffled.append(np.array(dup, dtype=np.int64))
    sig2 = mh.minhash_batch(shuffled, a, b)
    assert np.array_equal(sig, sig2)
    # one-set-at-a-time equals batched (no cross-segment leakage)
    for i, arr in enumerate(arrays):
        assert np.array_equal(mh.minhash(arr, a, b), sig[i])
    assert sig.min() >= 0 and sig.max() < 2**31 - 1


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_minhash_estimator_tracks_true_jaccard(seed):
    """estimate_jaccard within a 128-permutation Chernoff envelope of
    the true Jaccard for random overlapping sets."""
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.functions import minhash as mh

    rng = np.random.default_rng(seed)
    universe = rng.choice(2**31 - 2, size=400, replace=False)
    n_shared = int(rng.integers(10, 200))
    shared = universe[:n_shared]
    only_a = universe[200:200 + int(rng.integers(1, 100))]
    only_b = universe[300:300 + int(rng.integers(1, 100))]
    sa_ = np.unique(np.concatenate([shared, only_a]).astype(np.int64))
    sb_ = np.unique(np.concatenate([shared, only_b]).astype(np.int64))
    true_j = len(np.intersect1d(sa_, sb_)) / len(np.union1d(sa_, sb_))
    cfg = DedupConfig()
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)
    est = mh.estimate_jaccard(mh.minhash(sa_, a, b), mh.minhash(sb_, a, b))
    # k=128 perms: sd <= 0.045; 4 sd ~ 0.18 (one-seed failure prob ~1e-4)
    assert abs(est - true_j) < 0.18
