"""Partitioned cuckoo-filter alternative for the URL-seen set.

The north-star design names a "bloom/cuckoo URL-seen" prefilter; the
engine's default is the partitioned Bloom (operators/bloom.py). This is
the cuckoo twin, and it buys exactly one semantic the Bloom cannot
offer at any size: **deletion**. A Bloom bit, once set, is set forever —
after a takedown or content-expiry "forget", the seen TABLE row is
deleted (the anti-join backstop stays correct) but the filter keeps
answering maybe-seen, so every future re-discovery of that URL pays the
exact anti-join slow path. On a long-running crawl with recrawl/TTL
churn the over-approximation only grows. A cuckoo filter stores
displaceable fingerprints, so ``delete_keys`` genuinely unlearns and a
forgotten URL goes back to the zero-shuffle definitely-new fast path.

Reference correspondence: the reference's only "unlearn" is the row
delete itself (DeleteBlock / DeleteTransactionsByBlockHash,
block_repository_impl.go:264-268) because its dedup is a MongoDB unique
index — the index shrinks with the row. A bitmap prefilter loses that
property; the cuckoo filter restores it at 100-TB scale.

The at-rest protocol — ``pmod`` bucketing, the versioned meta commit,
the executor-side fold and growth jobs, and the two probe regimes — is
:class:`~.partitioned_filter.PartitionedFilter`'s, shared with the
Bloom; this module supplies the per-bucket cuckoo table.

Cost model vs the Bloom (documented trade, not hidden): 16-bit
fingerprints x 4-slot buckets at a 0.90 design load factor spend
~17.8 bits/key (Bloom at FPR 0.01: 9.59) for an FPR of
``2·slots/2^16 ≈ 1.2e-4`` — ~80x fewer false positives AND deletability,
for ~1.9x the bytes. Sizing table (``buckets_for``, the same 128 MB per
bucket target as the Bloom's):

    expected keys   total filter   buckets (>= 64 floor)
    10^8            222 MB         64
    10^10           22.2 GB        166
    10^11           222 GB         1656

Partial-key cuckoo hashing (Fan et al., CoNEXT'14, public): fingerprint
``fp = mix(h) -> 1..65535``; candidate buckets ``i1 = mix(h) & (nb-1)``
and ``i2 = i1 ^ (mix(fp) & (nb-1))`` — the xor makes relocation possible
knowing only (i, fp). Inserts are batch-vectorized (numpy group-place by
target bucket, two passes), with a deterministic eviction walk only for
the rare overflow keys and a bounded stash behind that.
"""

from __future__ import annotations

import math

import numpy as np

from ethereum_raw_data_crawler_spark.operators.bloom import _mix
from ethereum_raw_data_crawler_spark.operators.partitioned_filter import (
    PartitionedFilter,
)

_SLOTS = 4
_DESIGN_LOAD = 0.90  # rebuild trigger; 4-slot cuckoo fills to ~0.95
_STASH_MAX = 4096


def _fingerprints(keys: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint per int64 key (0 marks an empty slot)."""
    h = np.asarray(keys).astype(np.int64).view(np.uint64)
    return (_mix(h, 101) % np.uint64(65535) + np.uint64(1)).astype(np.uint16)


def _alt_offset(fps: np.ndarray, nb: int) -> np.ndarray:
    """The xor partner: i2 = i1 ^ _alt_offset(fp). Pure function of the
    fingerprint so relocation works without the original key."""
    return (_mix(fps.astype(np.uint64), 202) & np.uint64(nb - 1)).astype(np.int64)


class CuckooFilter:
    """In-memory partial-key cuckoo filter over int64 keys.

    ``table`` is (nb, 4) uint16 (0 = empty); ``stash`` is a tiny (n, 2)
    int64 array of (bucket, fp) overflow entries checked by every probe.
    All batch ops are numpy-vectorized; the eviction walk (rare) is a
    bounded per-key loop with a DETERMINISTIC kick schedule so two runs
    over the same insert order produce byte-identical filters.
    """

    def __init__(self, nb: int = 1 << 12) -> None:
        assert nb & (nb - 1) == 0, "bucket count must be a power of two"
        self.nb = nb
        self.table = np.zeros((nb, _SLOTS), dtype=np.uint16)
        self.stash = np.zeros((0, 2), dtype=np.int64)
        self.n_added = 0

    @classmethod
    def sized_for(cls, expected_keys: int) -> "CuckooFilter":
        nb = 1 << max(4, math.ceil(math.log2(max(expected_keys, 64) / (_SLOTS * _DESIGN_LOAD))))
        return cls(nb=nb)

    @property
    def capacity(self) -> int:
        return int(self.nb * _SLOTS * _DESIGN_LOAD)

    def should_grow(self) -> bool:
        return self.n_added > self.capacity or len(self.stash) > _STASH_MAX // 2

    def saturation(self) -> float:
        return self.n_added / (self.nb * _SLOTS)

    # -- hashing ---------------------------------------------------------------
    def _slots_for(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        h = np.asarray(keys).astype(np.int64).view(np.uint64)
        fps = _fingerprints(keys)
        i1 = (_mix(h, 1) & np.uint64(self.nb - 1)).astype(np.int64)
        i2 = i1 ^ _alt_offset(fps, self.nb)
        return fps, i1, i2

    # -- insert ------------------------------------------------------------------
    def _place_pass(self, target: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized group-place: claim free slots of ``target[i]`` for as
        many keys as fit (intra-batch conflicts resolved by rank within
        bucket). Returns the boolean placed mask."""
        placed = np.zeros(len(target), dtype=bool)
        if not len(target):
            return placed
        order = np.argsort(target, kind="stable")
        t_sorted = target[order]
        # rank of each key within its target-bucket group
        starts = np.flatnonzero(np.r_[True, t_sorted[1:] != t_sorted[:-1]])
        group_id = np.cumsum(np.r_[True, t_sorted[1:] != t_sorted[:-1]]) - 1
        rank = np.arange(len(t_sorted)) - starts[group_id]
        ub = t_sorted[starts]
        free_mask = self.table[ub] == 0  # (U, 4)
        free_count = free_mask.sum(axis=1)
        ok = rank < free_count[group_id]
        # the rank-th free slot of each bucket: free slots sort first
        slot_order = np.argsort(~free_mask, axis=1, kind="stable")  # (U, 4)
        sel = order[ok]
        slots = slot_order[group_id[ok], rank[ok]]
        self.table[target[sel], slots] = fps[sel]
        placed[sel] = True
        return placed

    def _evict_insert(self, i: int, fp: int, max_kicks: int = 500) -> None:
        """Deterministic eviction walk for one overflow entry; lands in the
        stash if the walk fails (bounded; ``should_grow`` trips long
        before the stash cap under the design load factor)."""
        for kick in range(max_kicks):
            row = self.table[i]
            free = np.flatnonzero(row == 0)
            if len(free):
                self.table[i, free[0]] = fp
                return
            slot = kick % _SLOTS  # deterministic kick schedule
            victim = int(row[slot])
            self.table[i, slot] = fp
            fp = victim
            i = i ^ int(_alt_offset(np.array([fp], dtype=np.uint16), self.nb)[0])
        if len(self.stash) >= _STASH_MAX:
            raise RuntimeError(
                "cuckoo filter over capacity (stash full) — grow was not "
                f"applied: n_added={self.n_added} nb={self.nb}"
            )
        self.stash = np.vstack([self.stash, np.array([[i, fp]], dtype=np.int64)])

    def add_many(self, keys: np.ndarray) -> None:
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return
        fps, i1, i2 = self._slots_for(keys)
        placed = self._place_pass(i1, fps)
        rem = ~placed
        if rem.any():
            placed2 = np.zeros(len(keys), dtype=bool)
            placed2[rem] = self._place_pass(i2[rem], fps[rem])
            rem &= ~placed2
        for j in np.flatnonzero(rem):  # rare: both candidate buckets full
            self._evict_insert(int(i1[j]), int(fps[j]))
        self.n_added += len(keys)

    # -- probe -------------------------------------------------------------------
    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return np.zeros(0, dtype=bool)
        fps, i1, i2 = self._slots_for(keys)
        f16 = fps[:, None]
        hit = (self.table[i1] == f16).any(axis=1) | (self.table[i2] == f16).any(axis=1)
        for b, fp in self.stash:  # stash is tiny (<= _STASH_MAX)
            hit |= (fps == np.uint16(fp)) & ((i1 == b) | (i2 == b))
        return hit

    # -- delete ------------------------------------------------------------------
    def delete_many(self, keys: np.ndarray) -> int:
        """Remove ONE stored fingerprint per key occurrence (standard
        cuckoo semantics: delete what was inserted). Vectorized with a
        collision-retry loop: when two batch keys resolve to the same
        physical slot, only the first clears it and the rest retry against
        the updated table. Returns the number actually removed."""
        keys = np.asarray(keys, dtype=np.int64)
        removed = 0
        pending = keys
        while len(pending):
            fps, i1, i2 = self._slots_for(pending)
            f16 = fps[:, None]
            m1 = self.table[i1] == f16
            m2 = self.table[i2] == f16
            has1, has2 = m1.any(axis=1), m2.any(axis=1)
            found = has1 | has2
            # stash fallback for keys with no table hit (stash is tiny)
            for j in np.flatnonzero(~found):
                hit = np.flatnonzero(
                    (self.stash[:, 1] == int(fps[j]))
                    & ((self.stash[:, 0] == i1[j]) | (self.stash[:, 0] == i2[j]))
                )
                if len(hit):
                    self.stash = np.delete(self.stash, hit[0], axis=0)
                    removed += 1
            if not found.any():
                break
            bucket = np.where(has1, i1, i2)
            slot = np.where(has1, m1.argmax(axis=1), m2.argmax(axis=1))
            found_idx = np.flatnonzero(found)
            # first occurrence per physical slot wins; the rest retry
            # against the updated table (their key may have a second copy)
            lin = bucket[found_idx] * _SLOTS + slot[found_idx]
            _, first = np.unique(lin, return_index=True)
            winners = found_idx[first]
            self.table[bucket[winners], slot[winners]] = 0
            removed += len(winners)
            losers = np.setdiff1d(found_idx, winners)
            pending = pending[losers]
        self.n_added = max(0, self.n_added - removed)
        return removed

    # -- persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        np.savez(path, table=self.table, stash=self.stash, n_added=self.n_added)

    @classmethod
    def load(cls, path: str) -> "CuckooFilter":
        z = np.load(path)
        cf = cls(int(z["table"].shape[0]))
        cf.table = z["table"]
        cf.stash = z["stash"]
        cf.n_added = int(z["n_added"])
        return cf


class PartitionedCuckoo(PartitionedFilter):
    """Per-``url_hash``-bucket cuckoo filters at rest — the deletable
    alternative to :class:`~..operators.bloom.PartitionedBloom`, selected
    by ``seen_filter="cuckoo"``: immutable ``cuckoo/c{bucket:05d}-*.npz``
    files (table, stash, n_added), meta entries ``{file, nb, n_added}``.
    :meth:`delete_keys` is the takedown/recrawl unlearn path."""

    KERNEL = CuckooFilter
    SUBDIR, FILE_PREFIX, FILE_EXT = "cuckoo", "c", ".npz"
    SIZE_FIELDS = ("nb",)
    DEFAULT_SIZE = {"nb": 1 << 12}
    DESIGN_FILL = _DESIGN_LOAD
    BITS_PER_KEY = 16 / _DESIGN_LOAD
    deletable = True

    @staticmethod
    def _read(path: str, entry: dict) -> CuckooFilter:
        return CuckooFilter.load(path)

    @staticmethod
    def _write(cf: CuckooFilter, path: str) -> None:
        cf.save(path)

    def _size_for(self, n_keys: int) -> dict:
        return {"nb": CuckooFilter.sized_for(n_keys).nb}

    @staticmethod
    def _saturation(entry: dict) -> float:
        """Occupied fraction of the slots."""
        return entry["n_added"] / (entry["nb"] * _SLOTS)

    @staticmethod
    def _bits(entry: dict) -> int:
        return entry["nb"] * _SLOTS * 16
