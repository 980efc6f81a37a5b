"""Deterministic, mergeable bloom filter over int64 keys.

Replaces the reference's in-RAM exact fingerprint set
(``scrapy/dupefilters.py::RFPDupeFilter``) as the *probabilistic prefilter*
at the 10^10-URL design point (BASELINE.json:14): per-bucket filter blobs
live in the ``seen_filter`` sidecar table; probes prune the exact anti-join,
never replace it (false positives are killed by the exact join; bloom
false NEGATIVES are impossible, property-tested in tests/test_bloom.py).

Design: k hash probes via double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher),
where h1/h2 are splitmix64 remixes of the already-hashed int64 key. All ops
are vectorized numpy uint64 — no per-row Python in the probe path.
Serialization: 16-byte header (magic, m_bits, k) + packed bitarray, so blobs
are mergeable (OR) across partitions and stable across sessions.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["BloomFilter", "optimal_params"]

_MAGIC = b"SBF1"
_U64 = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain algorithm)."""
    x = (x + _U64(0x9E3779B97F4A7C15)) & _U64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def optimal_params(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for target false-positive rate; m rounded up to 64."""
    n_keys = max(n_keys, 1)
    m = int(np.ceil(-n_keys * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, int(round(m / n_keys * np.log(2))))
    return m, min(k, 16)


class BloomFilter:
    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        assert m_bits % 64 == 0 and m_bits > 0
        self.m_bits = m_bits
        self.k = k
        self.words = (
            bits if bits is not None else np.zeros(m_bits // 64, dtype=np.uint64)
        )

    @classmethod
    def build(cls, keys, m_bits: int, k: int) -> "BloomFilter":
        bf = cls(m_bits, k)
        bf.add_many(keys)
        return bf

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions."""
        u = keys.astype(np.int64).view(np.uint64)
        h1 = _splitmix64(u)
        h2 = _splitmix64(u ^ _U64(0xA5A5A5A5A5A5A5A5)) | _U64(1)
        i = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % _U64(self.m_bits)

    def add_many(self, keys) -> None:
        keys = np.asarray(keys, dtype=np.int64)
        if keys.size == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.words, (pos >> _U64(6)).astype(np.int64),
                         _U64(1) << (pos & _U64(63)))

    def contains_many(self, keys) -> np.ndarray:
        """Vectorized probe → bool array (no false negatives)."""
        keys = np.asarray(keys, dtype=np.int64)
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        word = self.words[(pos >> _U64(6)).astype(np.int64)]
        hit = (word >> (pos & _U64(63))) & _U64(1)
        return hit.all(axis=1).astype(bool)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m_bits, self.k) == (other.m_bits, other.k)
        return BloomFilter(self.m_bits, self.k, self.words | other.words)

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<QI", self.m_bits, self.k) + self.words.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        """Raises ValueError (not assert, which ``python -O`` strips) on a
        foreign magic or a length that disagrees with the header: misread
        bits would be false negatives, i.e. duplicate enqueues."""
        if blob[:4] != _MAGIC:
            raise ValueError(f"not a bloom blob: magic {bytes(blob[:4])!r}")
        m_bits, k = struct.unpack("<QI", blob[4:16]) if len(blob) >= 16 else (0, 0)
        if m_bits == 0 or len(blob) != 16 + m_bits // 8:
            raise ValueError(
                f"bloom blob is {len(blob)} bytes, header says "
                f"{16 + m_bits // 8} (m_bits={m_bits})"
            )
        words = np.frombuffer(blob[16:], dtype=np.uint64).copy()
        return cls(m_bits, k, words)
