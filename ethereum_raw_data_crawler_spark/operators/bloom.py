"""Bloom kernel of the partitioned URL-seen prefilter.

The at-rest protocol — ``pmod`` bucketing, the versioned meta commit,
the executor-side fold and growth jobs, and the two probe regimes — is
:class:`~.partitioned_filter.PartitionedFilter`'s; this module supplies
the per-bucket bitmap. It is the engine's default seen filter: the
cheapest per key, at the price of never forgetting a key
(operators/cuckoo.py is the deletable alternative).

Sizing math (why the defaults scale; see ``buckets_for``). At FPR p the
optimal bitmap spends ``-ln(p)/ln(2)^2`` bits per key — **9.59 bits ≈
1.2 bytes per URL at the default p = 0.01** (k = 7 probes). Total
bitmap bytes and the bucket count that keeps any ONE bucket's file
comfortably inside a single task's memory (128 MB target):

    expected keys   total bitmap   buckets (>= 64 floor)   bytes/bucket
    10^6            1.2 MB         64                      ~19 KB
    10^8            120 MB         64                      ~1.9 MB
    10^9            1.2 GB         64                      ~19 MB
    10^10           12 GB          90                      128 MB
    10^11           120 GB         893                     128 MB

``CrawlEngine.create`` defaults ``bloom_buckets`` from ``expected_keys``
(seeds × a 16× discovery-growth allowance when not given) via exactly
this table, so a 10^10-URL deployment starts with 90 buckets instead of
64 oversized ones.
"""

from __future__ import annotations

import math

import numpy as np

from ethereum_raw_data_crawler_spark.operators.partitioned_filter import (
    PartitionedFilter,
)


def _mix(h: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over uint64 — k independent hash functions via
    salting. All arithmetic is intentionally mod 2^64 (vectorized, wraparound
    is the algorithm, so overflow warnings are suppressed)."""
    offset = np.uint64((salt * 0x9E3779B97F4A7C15) % (1 << 64))
    with np.errstate(over="ignore"):
        z = (h + offset).astype(np.uint64)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def _bit_positions(keys: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    h = keys.astype(np.int64).view(np.uint64)
    return np.stack([_mix(h, i + 1) % np.uint64(n_bits) for i in range(k)])


def bitmap_add(words: np.ndarray, keys: np.ndarray, k: int, n_bits: int) -> None:
    if len(keys) == 0:
        return
    pos = _bit_positions(np.asarray(keys), k, n_bits).ravel()
    np.bitwise_or.at(
        words, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
    )


def bitmap_contains(
    words: np.ndarray, keys: np.ndarray, k: int, n_bits: int
) -> np.ndarray:
    """Boolean mask: True = maybe present, False = definitely absent."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    pos = _bit_positions(np.asarray(keys), k, n_bits)
    hit = (words[pos >> np.uint64(6)] >> (pos & np.uint64(63))) & np.uint64(1)
    return hit.all(axis=0).astype(bool)


def _optimal_m_k(expected_keys: int, fpr: float) -> tuple[int, int]:
    """n_bits = -n*ln(p)/ln(2)^2 rounded to a word, k = m/n*ln2."""
    n = max(int(expected_keys), 1024)
    m = int(-n * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _capacity(n_bits: int, k: int) -> int:
    """Keys at which the set-bit fraction reaches ~0.5 (the classic
    design point: FPR ≈ 0.5^k there)."""
    return int(n_bits * math.log(2) / k)


class BloomFilter:
    """Plain in-memory bit-array Bloom filter over int64 keys
    (numpy-vectorized). The per-bucket kernel of
    :class:`PartitionedBloom` (one of these per bucket, at rest)."""

    def __init__(
        self,
        n_bits: int = 1 << 23,
        k: int = 5,
        words: np.ndarray | None = None,
        n_added: int = 0,
    ) -> None:
        assert n_bits % 64 == 0
        self.n_bits = n_bits
        self.k = k
        self.words = np.zeros(n_bits // 64, dtype=np.uint64) if words is None else words
        self.n_added = n_added

    @classmethod
    def sized_for(cls, expected_keys: int, fpr: float = 0.01) -> "BloomFilter":
        m, k = _optimal_m_k(expected_keys, fpr)
        return cls(n_bits=m, k=k)

    @property
    def capacity(self) -> int:
        return _capacity(self.n_bits, self.k)

    def saturation(self) -> float:
        """Fraction of set bits — the live FPR estimate is saturation^k."""
        set_bits = int(_POPCOUNT8[self.words.view(np.uint8)].sum(dtype=np.int64))
        return set_bits / self.n_bits

    def should_grow(self) -> bool:
        return self.n_added > self.capacity

    def add_many(self, keys: np.ndarray) -> None:
        bitmap_add(self.words, keys, self.k, self.n_bits)
        self.n_added += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        return bitmap_contains(self.words, keys, self.k, self.n_bits)

    # -- persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        np.savez(
            path, words=self.words, n_bits=self.n_bits, k=self.k, n_added=self.n_added
        )

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        z = np.load(path)
        bf = cls(int(z["n_bits"]), int(z["k"]), words=z["words"])
        if "n_added" in z:
            bf.n_added = int(z["n_added"])
        else:
            # legacy snapshot without the counter: estimate from the bitmap
            # (n ≈ -m/k · ln(1 - saturation)) so should_grow() still trips
            # for an already-near-saturation filter instead of never
            sat = bf.saturation()
            bf.n_added = (
                bf.capacity + 1
                if sat >= 0.99
                else int(-bf.n_bits / bf.k * math.log(max(1.0 - sat, 1e-12)))
            )
        return bf


class PartitionedBloom(PartitionedFilter):
    """Per-``url_hash``-bucket Bloom bitmaps at rest: immutable
    ``bloom/b{bucket:05d}-r{rnd}-*.npy`` raw word arrays, meta entries
    ``{file, n_bits, k, n_added}``. A fold loads a bucket's word array and
    ORs the new keys into it in place; the broadcast probe ships the word
    arrays with a few ints each."""

    KERNEL = BloomFilter
    SUBDIR, FILE_PREFIX, FILE_EXT = "bloom", "b", ".npy"
    SIZE_FIELDS = ("n_bits", "k")
    DEFAULT_SIZE = {"n_bits": 1 << 17, "k": 5}
    #: half the bits set: FPR ≈ 0.5^k, the classic design point
    DESIGN_FILL = 0.5
    PARAMS = ("fpr",)
    BITS_PER_KEY = -math.log(0.01) / (math.log(2) ** 2)

    def __init__(self, store_root: str, fpr: float = 0.01) -> None:
        super().__init__(store_root)
        self.fpr = fpr

    @staticmethod
    def _read(path: str, entry: dict) -> BloomFilter:
        return BloomFilter(
            entry["n_bits"], entry["k"], words=np.load(path), n_added=entry["n_added"]
        )

    @staticmethod
    def _write(bf: BloomFilter, path: str) -> None:
        np.save(path, bf.words)

    def _size_for(self, n_keys: int) -> dict:
        return dict(zip(self.SIZE_FIELDS, _optimal_m_k(n_keys, self.fpr)))

    @staticmethod
    def _saturation(entry: dict) -> float:
        """Analytic set-bit fraction 1 - e^(-k·n/m)."""
        return 1.0 - math.exp(-entry["k"] * entry["n_added"] / entry["n_bits"])

    @staticmethod
    def _bits(entry: dict) -> int:
        return entry["n_bits"]
