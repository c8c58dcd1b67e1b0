"""The partitioned, at-rest URL-seen prefilter: per-bucket Bloom bitmaps.

The reference dedups with a MongoDB unique index plus a
find-before-insert (reference: mongodb.go:86-92,111-115;
crawler_service.go:433-457 — a read-modify-write race tolerated via
duplicate-key-is-success). Set-based recast: new candidates are
anti-joined against the ``seen`` table BEFORE fetch. At 10^10 URLs that
anti-join shuffles every candidate against a 10^10-row build side each
round; an approximate-membership prefilter kills the common case
(candidate definitely unseen) map-side with zero shuffle — only
maybe-seen candidates reach the exact anti-join backstop, so the filter
is correctness-neutral (no false negatives by construction; false
positives only cost extra join work).

Scale design (SURVEY §Phase 3): the filter is PARTITIONED by
``url_hash`` bucket — one immutable bitmap file per bucket beside the
snapshot manifest, referenced by a versioned meta JSON published by an
atomic temp-file swap:

  * ``<store_root>/bloom/`` holds immutable ``b{bucket:05d}-r{rnd}-*.npy``
    word arrays plus ``meta-{round:06d}.json`` mapping bucket -> {file,
    n_bits, k, n_added}. The meta is the commit point (temp file +
    ``os.replace``): a crash mid-update leaves orphan bucket files and the
    previous meta — consistent. Unlike the table manifests it may be
    replaced, because a round can re-commit its own meta (an empty fold,
    a growth after an add, a ``forget_urls`` rebuild). GC keeps the newest
    2 metas and only the files they reference. A bucket with no meta
    entry is empty (definitely absent).
  * The bucket of a key is ``pmod(key, n_buckets)`` — computable
    identically JVM-side (``F.pmod``) and in numpy (``np.mod``), so every
    job partitions keys BY that expression, which colocates each bucket's
    keys with the one task that touches its file. The bucket count is
    FIXED for the store's lifetime (a key's bucket must never change or
    probes would read the wrong file).
  * Maintenance is executor-side Spark jobs end to end: per-round adds
    shuffle the keys into ``min(n_buckets, defaultParallelism)``
    partitions of the bucket expression, so a task usually holds SEVERAL
    buckets; it ORs them in one at a time, each into its prior bitmap,
    writing a new immutable file per bucket (an LSM-style merge); only
    per-bucket stat rows reach the driver. A round's few hundred new keys
    thus cost O(cores) tasks, not one per bucket (64+), and a task holds
    at most one bucket bitmap in memory at a time.
  * Rebuilds are per-bucket: a bitmap cannot be resized or have a key
    removed from its own bits, so a bucket is rebuilt alone from the seen
    table filtered to that bucket — at its next size when it saturates,
    at its own size when ``forget_urls`` deleted some of its keys. A
    rebuild task reads a whole bucket's share of the seen set, so a
    rebuild keeps one bucket per partition. An estimate that is low by
    even 100× degrades into larger per-bucket files, never into false
    negatives.
  * Probe: small filters broadcast the whole bucket dict; past
    ``gates.FILTER_BROADCAST_MAX`` bytes the candidates repartition by
    bucket and each task loads only the files of the buckets it holds — a
    10^10-key seen set never materializes on the driver and never
    broadcasts.

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

Vectorized numpy throughout (Arrow batches in mapInPandas and pandas
UDFs — no per-row Python).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from typing import Iterator

import numpy as np
import pandas as pd

from ethereum_raw_data_crawler_spark import gates

#: design false-positive rate of a new store's buckets (kept in its meta)
FPR = 0.01


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


def bloom_size(expected_keys: int, fpr: float = FPR) -> dict[str, int]:
    """The bitmap designed for ``expected_keys`` at ``fpr``:
    n_bits = -n*ln(p)/ln(2)^2 rounded to a word, k = m/n*ln2."""
    n = max(int(expected_keys), 1024)
    m = int(-n * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    return {"n_bits": m, "k": max(1, round(m / n * math.log(2)))}


def _fill(entry: dict) -> float:
    """A bucket's analytic set-bit fraction 1 - e^(-k·n/m); past 0.5 (the
    classic design point, FPR ≈ 0.5^k) the bucket must grow."""
    return 1.0 - math.exp(-entry["k"] * entry["n_added"] / entry["n_bits"])


def _meta_round(fname: str) -> int | None:
    if fname.startswith("meta-") and fname.endswith(".json"):
        return int(fname[len("meta-") : -len(".json")])
    return None


class BloomFilter:
    """Plain in-memory bit-array Bloom filter over int64 keys
    (numpy-vectorized): one bucket of :class:`PartitionedBloom`."""

    def __init__(
        self,
        n_bits: int,
        k: int,
        words: np.ndarray | None = None,
        n_added: int = 0,
    ) -> None:
        assert n_bits % 64 == 0
        self.n_bits = n_bits
        self.k = k
        self.words = np.zeros(n_bits // 64, dtype=np.uint64) if words is None else words
        self.n_added = n_added

    @classmethod
    def read(cls, path: str, entry: dict) -> "BloomFilter":
        """The bucket whose meta entry is ``entry``, from its word array."""
        return cls(entry["n_bits"], entry["k"], np.load(path), entry["n_added"])

    def add_many(self, keys: np.ndarray) -> None:
        bitmap_add(self.words, keys, self.k, self.n_bits)
        self.n_added += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        return bitmap_contains(self.words, keys, self.k, self.n_bits)


class PartitionedBloom:
    """Per-``url_hash``-bucket Bloom bitmaps at rest (see the module
    docstring). A fold loads a bucket's word array and ORs the new keys
    into it; the broadcast probe ships the word arrays with a few ints
    each."""

    def __init__(self, store_root: str) -> None:
        self.dir = os.path.join(store_root, "bloom")
        self.fpr = FPR
        self.n_buckets: int = 0
        self.round: int = -1
        #: size of a bucket's first bitmap
        self.default_size: dict[str, int] = {"n_bits": 1 << 17, "k": 5}
        #: bucket -> {"file": str, "n_bits": int, "k": int, "n_added": int}
        self.buckets: dict[int, dict] = {}

    # ---- construction / persistence ----------------------------------------
    @classmethod
    def create(
        cls,
        store_root: str,
        n_buckets: int = 64,
        expected_keys: int | None = None,
        rnd: int = -1,
        size: dict | None = None,
    ) -> "PartitionedBloom":
        """An empty filter committed as round ``rnd``. Buckets start at
        ``size`` (``{"n_bits", "k"}``) or, given only ``expected_keys``, at
        the size for their share of it."""
        pb = cls(store_root)
        pb.n_buckets = n_buckets
        if size is not None:
            pb.default_size = dict(size)
        elif expected_keys is not None:
            pb.default_size = bloom_size(max(expected_keys // n_buckets, 1024))
        os.makedirs(pb.dir, exist_ok=True)
        pb.commit(rnd)
        return pb

    @staticmethod
    def buckets_for(expected_keys: int, target_bucket_bytes: int = 128 << 20) -> int:
        """Bucket count for a design capacity: enough buckets that one
        bucket's bitmap stays within ``target_bucket_bytes`` — one task
        comfortably holds one bucket — with a floor of 64. See the module
        docstring's sizing table."""
        total_bytes = expected_keys * -math.log(FPR) / (math.log(2) ** 2) / 8
        return max(64, math.ceil(total_bytes / target_bucket_bytes))

    @classmethod
    def latest_round(cls, store_root: str) -> int | None:
        d = cls(store_root).dir
        if not os.path.isdir(d):
            return None
        rounds = [r for r in map(_meta_round, os.listdir(d)) if r is not None]
        return max(rounds, default=None)

    @classmethod
    def load(cls, store_root: str, rnd: int) -> "PartitionedBloom":
        pb = cls(store_root)
        with open(os.path.join(pb.dir, f"meta-{rnd:06d}.json")) as fh:
            meta = json.load(fh)
        pb.n_buckets = meta["n_buckets"]
        pb.round = meta["round"]
        pb.fpr = meta["fpr"]
        pb.default_size = {f: meta[f"default_{f}"] for f in ("n_bits", "k")}
        pb.buckets = {int(b): e for b, e in meta["buckets"].items()}
        return pb

    def commit(self, rnd: int) -> None:
        """Publish the current bucket map as round ``rnd``'s meta, then GC."""
        meta = {
            "round": rnd,
            "n_buckets": self.n_buckets,
            "fpr": self.fpr,
            **{f"default_{f}": v for f, v in self.default_size.items()},
            "buckets": {str(b): e for b, e in self.buckets.items()},
        }
        tmp = os.path.join(self.dir, f".meta.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self.dir, f"meta-{rnd:06d}.json"))
        self.round = rnd
        self._gc(keep=2)

    def _gc(self, keep: int = 2) -> None:
        """Drop meta files past the newest ``keep`` and any bucket file no
        surviving meta references (superseded by later folds/rebuilds)."""
        # numeric sort on the parsed round: lexicographic order breaks once
        # the round number outgrows the zero padding
        # ("meta-1000000.json" < "meta-999999.json")
        metas = sorted(
            (f for f in os.listdir(self.dir) if _meta_round(f) is not None),
            key=_meta_round,
        )
        live: set[str] = set()
        for mf in metas[-keep:]:
            try:
                with open(os.path.join(self.dir, mf)) as fh:
                    m = json.load(fh)
                for e in m["buckets"].values():
                    if e.get("file"):
                        live.add(e["file"])
            except (OSError, json.JSONDecodeError):
                continue
        for f in os.listdir(self.dir):
            if f.startswith("meta-") and f not in metas[-keep:]:
                os.unlink(os.path.join(self.dir, f))
            elif f.startswith("b") and f.endswith(".npy") and f not in live:
                os.unlink(os.path.join(self.dir, f))

    # ---- derived stats -------------------------------------------------------
    @property
    def total_bits(self) -> int:
        """Bits across MATERIALIZED bucket files — what a broadcast would
        actually ship (empty buckets have no file)."""
        return sum(e["n_bits"] for e in self.buckets.values() if e.get("file"))

    @property
    def n_added_total(self) -> int:
        return sum(e["n_added"] for e in self.buckets.values())

    def estimated_saturation(self) -> float:
        """Size-weighted mean of the per-bucket set-bit fraction — no file
        IO, the health gauge."""
        bits = sum(e["n_bits"] for e in self.buckets.values())
        if not bits:
            return 0.0
        return sum(_fill(e) * e["n_bits"] for e in self.buckets.values()) / bits

    def saturated_buckets(self) -> list[int]:
        return [b for b, e in self.buckets.items() if _fill(e) > 0.5]

    # ---- executor-side maintenance -------------------------------------------
    def _fold_job(
        self, keys_df, key_col: str, rnd: int, sizes: dict[int, dict] | None = None
    ) -> None:
        """The one Spark job behind add and rebuild: each task folds its
        buckets' keys, one bucket at a time, into the prior bitmap — or,
        for the buckets in ``sizes``, an empty one of that size, reading
        only their keys — and writes a new file. The stat rows replace the
        buckets' meta entries (a rebuilt bucket left with no key has none),
        committed as round ``rnd``."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        B, fdir = self.n_buckets, self.dir
        prior = {b: e for b, e in self.buckets.items() if e.get("file")}
        default = self.default_size
        sizes = sizes or {}

        out_schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType(), False),
                T.StructField("file", T.StringType(), False),
                T.StructField("n_bits", T.LongType(), False),
                T.StructField("k", T.LongType(), False),
                T.StructField("n_added", T.LongType(), False),
            ]
        )

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            per_bucket: dict[int, list[np.ndarray]] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                keys = pdf["_key"].to_numpy(dtype=np.int64)
                bks = np.mod(keys, B)
                for b in np.unique(bks):
                    per_bucket.setdefault(int(b), []).append(keys[bks == b])
            rows = []
            for b, chunks in per_bucket.items():
                if b in sizes:
                    f = BloomFilter(**sizes[b])
                elif b in prior:
                    f = BloomFilter.read(os.path.join(fdir, prior[b]["file"]), prior[b])
                else:
                    f = BloomFilter(**default)
                f.add_many(np.concatenate(chunks))
                fname = f"b{b:05d}-r{rnd}-{uuid.uuid4().hex[:8]}.npy"
                np.save(os.path.join(fdir, fname), f.words)
                rows.append((b, fname, f.n_bits, f.k, f.n_added))
            if rows:
                yield pd.DataFrame(rows, columns=out_schema.fieldNames())

        keyed = keys_df.select(F.col(key_col).cast("long").alias("_key"))
        if sizes:
            keyed = keyed.where(
                F.pmod(F.col("_key"), F.lit(B)).isin([int(b) for b in sizes])
            )
        # O(cores) tasks fold a round's keys; a rebuild task reads a whole
        # bucket's share of the seen set, so a rebuild keeps one per task
        cores = keys_df.sparkSession.sparkContext.defaultParallelism
        parts = B if sizes else min(B, cores)
        stats = (
            keyed.repartition(parts, F.pmod(F.col("_key"), F.lit(B)))
            .mapInPandas(fold, out_schema)
            .collect()
        )
        for b in sizes:
            self.buckets.pop(b, None)
        for r in stats:
            self.buckets[int(r["bucket"])] = {
                "file": r["file"],
                "n_bits": int(r["n_bits"]),
                "k": int(r["k"]),
                "n_added": int(r["n_added"]),
            }
        self.commit(rnd)

    def add_keys(self, keys_df, key_col: str, rnd: int) -> list[int]:
        """Fold a round's new keys into the bucket bitmaps; returns the
        buckets now past design capacity."""
        self._fold_job(keys_df, key_col, rnd)
        return self.saturated_buckets()

    def rebuild_buckets(
        self, all_keys_df, key_col: str, rnd: int, sizes: dict[int, dict]
    ) -> None:
        """Rebuild ONLY the buckets in ``sizes`` from the full seen set,
        each at its ``{"n_bits", "k"}``: growth passes a saturated bucket's
        next size, ``forget_urls`` a bucket's own size."""
        if sizes:  # none would fold every key as an add
            self._fold_job(all_keys_df, key_col, rnd, sizes=sizes)

    # ---- probe -----------------------------------------------------------------
    def probe_split(self, df, key_col: str, spark, scratch=None):
        """(definitely_new, maybe_seen) split of ``df`` on ``key_col``, in
        one of the module docstring's two regimes, or none when no bucket
        holds a key (``last_probe_mode`` records which ran, for the tests).

        The tagged intermediate (``df`` plus a boolean ``_maybe_seen``) is
        appended to ``scratch`` for the caller to unpersist. A probing
        split CACHES it: both returned branches read it, and without the
        cache each branch would re-execute the full upstream candidate
        pipeline. Only ``key_col`` crosses to Python; the other columns
        stay in the JVM."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        B = self.n_buckets
        files = {
            b: (os.path.join(self.dir, e["file"]), e)
            for b, e in self.buckets.items()
            if e.get("file")
        }

        if not files:
            # round-0 seeding, or a store before its first fold: every row
            # is definitely new, and the maybe-seen branch plans as empty
            self.last_probe_mode = "empty"
            return self._split(df.withColumn("_maybe_seen", F.lit(False)), scratch)

        if self.total_bits // 8 <= gates.FILTER_BROADCAST_MAX:
            self.last_probe_mode = "broadcast"
            bc = spark.sparkContext.broadcast(
                {b: BloomFilter.read(*f) for b, f in files.items()}
            )

            def bucket_filter(b: int):
                return bc.value.get(b)

        else:
            self.last_probe_mode = "aligned"
            df = df.repartition(B, F.pmod(F.col(key_col), F.lit(B)))

            def bucket_filter(b: int):
                return BloomFilter.read(*files[b]) if b in files else None

        @F.pandas_udf(T.BooleanType())
        def maybe_seen(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            cache: dict[int, BloomFilter | None] = {}
            for s in batches:
                keys = s.to_numpy(dtype=np.int64)
                bks = np.mod(keys, B)
                mask = np.zeros(len(keys), dtype=bool)
                for b in map(int, np.unique(bks)):
                    if b not in cache:
                        cache[b] = bucket_filter(b)
                    if cache[b] is None:
                        continue  # empty bucket: definitely absent
                    sel = bks == b
                    mask[sel] = cache[b].contains_many(keys[sel])
                yield pd.Series(mask)

        tagged = df.withColumn("_maybe_seen", maybe_seen(key_col)).cache()
        return self._split(tagged, scratch)

    @staticmethod
    def _split(tagged, scratch):
        if scratch is not None:
            scratch.append(tagged)
        return (
            tagged.where(~tagged["_maybe_seen"]).drop("_maybe_seen"),
            tagged.where(tagged["_maybe_seen"]).drop("_maybe_seen"),
        )
