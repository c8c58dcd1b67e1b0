"""Stable hash primitives shared by the dedup/similarity operators.
Everything is deterministic (fixed seeds, no wall clock) and
numpy-vectorized where it runs on the executor path.
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wraparound intended)."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z


_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)


def token_hash64_vec(tokens, width: int = 24) -> np.ndarray:
    """Vectorized stable 64-bit hash of a string array: FNV-1a over the
    first ``width`` UTF-8 bytes (zero-padded), splitmix-finalized. No
    per-token Python — ``width`` vectorized passes over the whole batch.
    (Tokens sharing a ``width``-byte prefix collide; for dedup
    fingerprints that is indistinguishable from a shingle collision.)"""
    arr = np.asarray(tokens, dtype="U")
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    b = (
        np.char.encode(arr, "utf-8")
        .astype(f"S{width}")
        .view(np.uint8)
        .reshape(arr.size, -1)
    )
    h = np.full(arr.size, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in range(b.shape[1]):
            h = (h ^ b[:, c].astype(np.uint64)) * _FNV_PRIME
    return splitmix64(h)


def shingle_hashes_vec(token_hashes: np.ndarray, n: int = 3) -> np.ndarray:
    """Distinct word-n-gram shingle hashes from per-token hashes — the
    vectorized composition replacing string-join + per-shingle hashing.
    Position sensitivity comes from nested splitmix folding. Documents
    shorter than ``n`` tokens collapse to one whole-document shingle."""
    th = np.asarray(token_hashes, dtype=np.uint64)
    if th.size == 0:
        return np.empty(0, dtype=np.uint64)
    if th.size < n:
        acc = np.uint64(0)
        for v in th[::-1]:
            acc = splitmix64(np.array([v ^ acc], dtype=np.uint64))[0]
        return np.array([acc], dtype=np.uint64)
    sh = splitmix64(th[2:] if n == 3 else th[n - 1 :])
    for off in range(n - 2, -1, -1):
        end = off + sh.size
        sh = splitmix64(th[off:end] ^ sh)
    return np.unique(sh)


def shingle_hashes_concat(
    all_token_hashes: np.ndarray, counts: np.ndarray, n: int = 3
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct word-n-gram shingle hashes for a whole batch from the
    CONCATENATED per-token hashes + per-doc token counts. Window folding,
    boundary masking, and per-doc dedup are all global vectorized ops
    (lexsort + diff) — no per-document numpy calls. Returns
    (flat_shingles grouped by doc in doc order, per-doc shingle counts).
    Same per-doc values as ``shingle_hashes_vec``."""
    counts = np.asarray(counts, dtype=np.int64)
    n_docs = len(counts)
    th = np.asarray(all_token_hashes, dtype=np.uint64)
    if th.size == 0 or n_docs == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs, dtype=np.int64)
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    d_parts: list[np.ndarray] = []
    s_parts: list[np.ndarray] = []
    if th.size >= n:
        sh = splitmix64(th[n - 1 :])
        for off in range(n - 2, -1, -1):
            sh = splitmix64(th[off : off + sh.size] ^ sh)
        valid = doc_of[: sh.size] == doc_of[n - 1 :]
        d_parts.append(doc_of[: sh.size][valid])
        s_parts.append(sh[valid])
    short = np.nonzero((counts > 0) & (counts < n))[0]
    if short.size:
        starts_all = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts_all[1:])
        for d in short:  # rare: docs with fewer than n tokens
            s = shingle_hashes_vec(th[starts_all[d] : starts_all[d] + counts[d]], n)
            d_parts.append(np.full(s.size, d, dtype=np.int64))
            s_parts.append(s)
    d_all = np.concatenate(d_parts) if d_parts else np.empty(0, dtype=np.int64)
    s_all = np.concatenate(s_parts) if s_parts else np.empty(0, dtype=np.uint64)
    if d_all.size == 0:
        return s_all, np.zeros(n_docs, dtype=np.int64)
    order = np.lexsort((s_all, d_all))
    d_s, s_s = d_all[order], s_all[order]
    keep = np.empty(d_s.size, dtype=bool)
    keep[0] = True
    keep[1:] = (d_s[1:] != d_s[:-1]) | (s_s[1:] != s_s[:-1])
    return s_s[keep], np.bincount(d_s[keep], minlength=n_docs)


def minhash_signature_batch(
    shingle_hashes: np.ndarray, counts: np.ndarray, k: int = 64
) -> np.ndarray:
    """MinHash signatures for a whole batch in one shot: ``shingle_hashes``
    is the concatenation of every document's shingles, ``counts`` the
    per-document lengths. Returns (n_docs, k) uint64 — computed as one
    (k, N) permuted matrix + segmented min (``np.minimum.reduceat``),
    zero per-document Python. Empty documents get all-MAX signatures."""
    counts = np.asarray(counts, dtype=np.int64)
    n_docs = len(counts)
    out = np.full((n_docs, k), _MASK64, dtype=np.uint64)
    if shingle_hashes.size == 0 or n_docs == 0:
        return out
    seeds = splitmix64(np.arange(1, k + 1, dtype=np.uint64))
    sh = np.asarray(shingle_hashes, dtype=np.uint64)
    nonempty = counts > 0
    starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(counts[nonempty][:-1], out=starts[1:])
    mins = np.empty((int(nonempty.sum()), k), dtype=np.uint64)
    # one O(N) pass per permutation — memory stays flat in the batch size
    for i in range(k):
        mins[:, i] = np.minimum.reduceat(splitmix64(sh ^ seeds[i]), starts)
    out[nonempty] = mins
    return out


def band_keys_batch(sigs: np.ndarray, bands: int = 16) -> np.ndarray:
    """LSH band keys for a (n_docs, k) signature matrix -> (n_docs, bands)
    int64 (63-bit, signed-friendly). Same FNV-fold + splitmix scheme as
    ``band_keys``, vectorized across the whole batch."""
    n_docs, k = sigs.shape
    rows = k // bands
    banded = sigs.reshape(n_docs, bands, rows)
    acc = np.full((n_docs, bands), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            acc = (acc ^ banded[:, :, r]) * _FNV_PRIME
        acc = splitmix64(acc ^ np.arange(bands, dtype=np.uint64)[None, :])
    return (acc & np.uint64(0x7FFFFFFFFFFFFFFF)).view(np.int64)


def band_keys(sig: np.ndarray, bands: int = 16) -> list[int]:
    """LSH banding: split the signature into ``bands`` equal bands and hash
    each band to a 63-bit bucket key (signed-long friendly)."""
    rows = len(sig) // bands
    keys = []
    for b in range(bands):
        band = sig[b * rows : (b + 1) * rows]
        acc = np.uint64(1469598103934665603)  # FNV offset basis
        with np.errstate(over="ignore"):
            for v in band:
                acc = (acc ^ np.uint64(v)) * np.uint64(1099511628211)
            acc = splitmix64(np.array([acc ^ np.uint64(b)], dtype=np.uint64))[0]
        keys.append(int(acc & np.uint64(0x7FFFFFFFFFFFFFFF)))
    return keys
