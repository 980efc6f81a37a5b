"""Bloom filter properties: no false negatives (hard invariant — D2 in
SURVEY.md §2.3 backs the filter with an exact anti-join, but a false
negative would silently re-crawl), mergeability, serialization round-trip,
bounded false-positive rate."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkcrawl.bloom import BloomFilter, optimal_params

keys_st = st.lists(st.integers(-(2**63), 2**63 - 1), max_size=300)


@settings(max_examples=100, deadline=None)
@given(keys_st)
def test_no_false_negatives(keys):
    m, k = optimal_params(max(len(keys), 10), 0.01)
    bf = BloomFilter.build(keys, m, k)
    if keys:
        assert bf.contains_many(keys).all()


@settings(max_examples=50, deadline=None)
@given(keys_st, keys_st)
def test_merge_is_union(a, b):
    m, k = optimal_params(600, 0.01)
    bf = BloomFilter.build(a, m, k).merge(BloomFilter.build(b, m, k))
    both = a + b
    if both:
        assert bf.contains_many(both).all()


def test_roundtrip_bytes():
    m, k = optimal_params(1000, 0.01)
    bf = BloomFilter.build(list(range(1000)), m, k)
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert (bf2.words == bf.words).all() and bf2.k == bf.k
    assert bf2.contains_many(list(range(1000))).all()


def test_fpp_bounded():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, 20_000)
    probe = rng.integers(-(2**62), 2**62, 20_000) + 2**62  # disjoint range
    m, k = optimal_params(len(keys), 0.01)
    bf = BloomFilter.build(keys, m, k)
    fpp = bf.contains_many(probe).mean()
    assert fpp < 0.03, fpp


def test_deterministic_blob():
    m, k = optimal_params(100, 0.01)
    assert (
        BloomFilter.build([1, 2, 3], m, k).to_bytes()
        == BloomFilter.build([3, 1, 2], m, k).to_bytes()
    )


def test_from_bytes_rejects_foreign_and_truncated_blobs():
    """A foreign-magic blob (e.g. an SCK1 cuckoo blob from an older store)
    or a truncated one must raise, never be misread into false negatives —
    and the check must survive ``python -O`` (ValueError, not assert)."""
    blob = BloomFilter.build([1, 2, 3], 1024, 7).to_bytes()
    with pytest.raises(ValueError, match="magic"):
        BloomFilter.from_bytes(b"SCK1" + blob[4:])
    for cut in (len(blob) - 8, len(blob) - 1, 16, 10):
        with pytest.raises(ValueError):
            BloomFilter.from_bytes(blob[:cut])
    with pytest.raises(ValueError):
        BloomFilter.from_bytes(blob + b"\0" * 8)


def test_default_config_bucket_share_has_no_false_negatives():
    """The sidecar switches on at ``bloom_min_seen`` keys, so one bucket's
    blob must hold ``bloom_min_seen // n_buckets`` keys at the default
    ``bloom_bits_per_bucket``/``bloom_k`` — the load the former cuckoo
    family overflowed its stash on — with no false negatives."""
    from sparkcrawl.config import CrawlConfig

    cfg = CrawlConfig()
    n = cfg.bloom_min_seen // cfg.n_buckets
    keys = np.random.default_rng(11).integers(-(2**63), 2**63 - 1, n)
    bf = BloomFilter.build(keys, cfg.bloom_bits_per_bucket, cfg.bloom_k)
    assert BloomFilter.from_bytes(bf.to_bytes()).contains_many(keys).all()
