"""The partitioned, at-rest URL-seen prefilter: one protocol, per-bucket kernels.

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
``url_hash`` bucket — one immutable file per bucket beside the snapshot
manifest, referenced by a versioned meta JSON published by an atomic
temp-file swap. :class:`PartitionedFilter` owns that protocol;
a subclass supplies only the per-bucket kernel (the Bloom bitmap in
operators/bloom.py, the deletable cuckoo table in operators/cuckoo.py):

  * ``<store_root>/<SUBDIR>/`` holds immutable bucket files plus
    ``meta-{round:06d}.json`` mapping bucket -> {file, <size fields>,
    n_added}. The meta is the commit point (temp file + ``os.replace``):
    a crash mid-update leaves orphan bucket files and the previous meta —
    consistent. Unlike the table manifests it may be replaced, because a
    round can re-commit its own meta (an empty fold, a growth after an
    add). GC keeps the newest 2 metas and only the files they
    reference. A bucket with no meta entry is empty (definitely absent).
  * The bucket of a key is ``pmod(key, n_buckets)`` — computable
    identically JVM-side (``F.pmod``) and in numpy (``np.mod``), so every
    job partitions keys BY that expression, which colocates each bucket's
    keys with the one task that touches its file. The bucket count is
    FIXED for the store's lifetime (a key's bucket must never change or
    probes would read the wrong file).
  * Maintenance is executor-side Spark jobs end to end: per-round adds
    (and cuckoo deletes) shuffle the keys into ``min(n_buckets,
    defaultParallelism)`` partitions of the bucket expression, so a task
    usually holds SEVERAL buckets; it folds them one at a time, each into
    its prior file, writing a new immutable file per bucket (an LSM-style
    merge); only per-bucket stat rows reach the driver. A round's few
    hundred new keys thus cost O(cores) tasks, not one per bucket (64+),
    and a task holds at most one bucket filter in memory at a time.
  * Growth is per-bucket: a saturated bucket is rebuilt alone, from the
    seen table filtered to that bucket, at its next size — neither kernel
    can be resized from its own contents (Bloom bits and cuckoo
    fingerprints have lost the key). A rebuild task reads a whole
    bucket's share of the seen set, so growth keeps one bucket per
    partition. An estimate that is low by even 100× degrades into larger
    per-bucket files, never into false negatives.
  * Probe: small filters broadcast the whole bucket dict; past
    ``gates.FILTER_BROADCAST_MAX`` bytes the candidates repartition by bucket and each
    task loads only the files of the buckets it holds — a 10^10-key seen
    set never materializes on the driver and never broadcasts.

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


def _meta_round(fname: str) -> int | None:
    if fname.startswith("meta-") and fname.endswith(".json"):
        return int(fname[len("meta-") : -len(".json")])
    return None


class PartitionedFilter:
    """Per-``url_hash``-bucket filters at rest (see the module docstring).

    A subclass is the per-bucket kernel. It sets the class attributes
    below and implements, for one bucket:

      * ``_read(path, entry)`` / ``_write(f, path)`` — its file, where
        ``entry`` is its meta entry;
      * ``_size_for(n_keys)`` — the ``SIZE_FIELDS`` dict of a bucket
        designed for ``n_keys``;
      * ``_saturation(entry)`` — its fill estimate (the health gauge);
        past ``DESIGN_FILL`` the bucket must grow;
      * ``_bits(entry)`` — its filter size in bits.
    """

    #: in-memory bucket filter: ``KERNEL(**size)`` is an empty one; it has
    #: ``add_many``, ``contains_many``, ``n_added``, the ``SIZE_FIELDS`` as
    #: attributes, and ``delete_many`` when ``deletable``
    KERNEL: type
    #: directory under the store root, and bucket file name prefix/suffix
    SUBDIR: str
    FILE_PREFIX: str
    FILE_EXT: str
    #: the kernel's per-bucket size parameters, persisted in each meta
    #: entry and (prefixed ``default_``) as the store-wide default size
    SIZE_FIELDS: tuple[str, ...]
    DEFAULT_SIZE: dict[str, int]
    #: ``_saturation`` at a bucket's design capacity
    DESIGN_FILL: float
    #: extra instance attributes persisted at the top of the meta
    PARAMS: tuple[str, ...] = ()
    #: filter bits spent per key at the design load (sizes ``buckets_for``)
    BITS_PER_KEY: float
    #: whether ``delete_keys`` can unlearn keys
    deletable = False

    def __init__(self, store_root: str) -> None:
        self.dir = os.path.join(store_root, self.SUBDIR)
        self.n_buckets: int = 0
        self.round: int = -1
        self.default_size: dict[str, int] = dict(self.DEFAULT_SIZE)
        #: bucket -> {"file": str, <SIZE_FIELDS>: int, "n_added": int}
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
        **params,
    ) -> "PartitionedFilter":
        """An empty filter committed as round ``rnd``. Buckets start at
        ``size`` (a ``SIZE_FIELDS`` dict) or, given only ``expected_keys``,
        at the size for their share of it; ``params`` set the ``PARAMS``."""
        pf = cls(store_root, **params)
        pf.n_buckets = n_buckets
        if size is not None:
            pf.default_size = dict(size)
        elif expected_keys is not None:
            pf.default_size = pf._size_for(max(expected_keys // n_buckets, 1024))
        os.makedirs(pf.dir, exist_ok=True)
        pf.commit(rnd)
        return pf

    @classmethod
    def buckets_for(
        cls, expected_keys: int, target_bucket_bytes: int = 128 << 20
    ) -> int:
        """Bucket count for a design capacity: enough buckets that one
        bucket's file (at ``BITS_PER_KEY``) stays within
        ``target_bucket_bytes`` — one task comfortably holds one bucket —
        with a floor of 64. See the kernel module's sizing table."""
        total_bytes = expected_keys * cls.BITS_PER_KEY / 8
        return max(64, math.ceil(total_bytes / target_bucket_bytes))

    @classmethod
    def latest_round(cls, store_root: str) -> int | None:
        d = os.path.join(store_root, cls.SUBDIR)
        if not os.path.isdir(d):
            return None
        rounds = [r for r in map(_meta_round, os.listdir(d)) if r is not None]
        return max(rounds, default=None)

    @classmethod
    def load(cls, store_root: str, rnd: int) -> "PartitionedFilter":
        pf = cls(store_root)
        with open(os.path.join(pf.dir, f"meta-{rnd:06d}.json")) as fh:
            meta = json.load(fh)
        pf.n_buckets = meta["n_buckets"]
        pf.round = meta["round"]
        for p in cls.PARAMS:
            setattr(pf, p, meta[p])
        pf.default_size = {f: meta[f"default_{f}"] for f in cls.SIZE_FIELDS}
        pf.buckets = {int(b): e for b, e in meta["buckets"].items()}
        return pf

    def commit(self, rnd: int) -> None:
        """Publish the current bucket map as round ``rnd``'s meta, then GC."""
        meta = {
            "round": rnd,
            "n_buckets": self.n_buckets,
            **{p: getattr(self, p) for p in self.PARAMS},
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
            elif (
                f.startswith(self.FILE_PREFIX)
                and f.endswith(self.FILE_EXT)
                and f not in live
            ):
                os.unlink(os.path.join(self.dir, f))

    # ---- derived stats -------------------------------------------------------
    @property
    def total_bits(self) -> int:
        """Bits across MATERIALIZED bucket files — what a broadcast would
        actually ship (empty buckets have no file)."""
        return sum(self._bits(e) for e in self.buckets.values() if e.get("file"))

    @property
    def n_added_total(self) -> int:
        return sum(e["n_added"] for e in self.buckets.values())

    def estimated_saturation(self) -> float:
        """Size-weighted mean of the per-bucket fill estimate — no file IO,
        the health gauge."""
        bits = sum(self._bits(e) for e in self.buckets.values())
        if not bits:
            return 0.0
        num = sum(self._saturation(e) * self._bits(e) for e in self.buckets.values())
        return num / bits

    def saturated_buckets(self) -> list[int]:
        return [
            b for b, e in self.buckets.items() if self._saturation(e) > self.DESIGN_FILL
        ]

    # ---- executor-side maintenance -------------------------------------------
    def _fold_job(
        self,
        keys_df,
        key_col: str,
        rnd: int,
        delete: bool = False,
        sizes: dict[int, dict] | None = None,
    ) -> int:
        """The one Spark job behind add, delete and growth: each task folds
        its buckets' keys, one bucket at a time, into the prior bucket
        filter — or, for the buckets in ``sizes``, an empty one of that
        size, reading only their keys — and writes a new file. The stat
        rows replace the buckets' meta entries, committed as round ``rnd``.
        Returns the keys applied."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        B = self.n_buckets
        fdir, prefix, ext = self.dir, self.FILE_PREFIX, self.FILE_EXT
        new, read, write = self.KERNEL, self._read, self._write
        size_fields = self.SIZE_FIELDS
        prior = {b: e for b, e in self.buckets.items() if e.get("file")}
        default = self.default_size
        sizes = sizes or {}

        out_schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType(), False),
                T.StructField("file", T.StringType(), False),
                *(T.StructField(f, T.LongType(), False) for f in size_fields),
                T.StructField("n_added", T.LongType(), False),
                T.StructField("applied", T.LongType(), False),
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
                keys = np.concatenate(chunks)
                if b in sizes:
                    f = new(**sizes[b])
                elif b in prior:
                    f = read(os.path.join(fdir, prior[b]["file"]), prior[b])
                else:
                    f = new(**default)
                if delete:
                    applied = f.delete_many(keys)
                else:
                    f.add_many(keys)
                    applied = len(keys)
                fname = f"{prefix}{b:05d}-r{rnd}-{uuid.uuid4().hex[:8]}{ext}"
                write(f, os.path.join(fdir, fname))
                size = [getattr(f, s) for s in size_fields]
                rows.append((b, fname, *size, f.n_added, applied))
            if rows:
                yield pd.DataFrame(rows, columns=out_schema.fieldNames())

        keyed = keys_df.select(F.col(key_col).cast("long").alias("_key"))
        if sizes:
            keyed = keyed.where(
                F.pmod(F.col("_key"), F.lit(B)).isin([int(b) for b in sizes])
            )
        # O(cores) tasks fold a round's keys; a growth task reads a whole
        # bucket's share of the seen set, so growth keeps one per task
        cores = keys_df.sparkSession.sparkContext.defaultParallelism
        parts = B if sizes else min(B, cores)
        stats = (
            keyed.repartition(parts, F.pmod(F.col("_key"), F.lit(B)))
            .mapInPandas(fold, out_schema)
            .collect()
        )
        for r in stats:
            self.buckets[int(r["bucket"])] = {
                "file": r["file"],
                **{f: int(r[f]) for f in size_fields},
                "n_added": int(r["n_added"]),
            }
        self.commit(rnd)
        return sum(int(r["applied"]) for r in stats)

    def add_keys(self, keys_df, key_col: str, rnd: int) -> list[int]:
        """Fold a round's new keys into the bucket filters; returns the
        buckets now past design capacity."""
        self._fold_job(keys_df, key_col, rnd)
        return self.saturated_buckets()

    def delete_keys(self, keys_df, key_col: str, rnd: int) -> int:
        """Unlearn keys (takedown / recrawl-TTL); returns the number of
        keys removed."""
        if not self.deletable:
            raise TypeError(f"{type(self).__name__} cannot delete keys")
        return self._fold_job(keys_df, key_col, rnd, delete=True)

    def grow_buckets(
        self, all_keys_df, key_col: str, rnd: int, grow: list[int]
    ) -> None:
        """Rebuild ONLY the ``grow`` buckets from the full seen set, each
        sized for twice its current key count."""
        sizes = {int(b): self._size_for(2 * self.buckets[b]["n_added"]) for b in grow}
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
        read = self._read
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
                {b: read(path, e) for b, (path, e) in files.items()}
            )

            def bucket_filter(b: int):
                return bc.value.get(b)

        else:
            self.last_probe_mode = "aligned"
            df = df.repartition(B, F.pmod(F.col(key_col), F.lit(B)))

            def bucket_filter(b: int):
                return read(*files[b]) if b in files else None

        @F.pandas_udf(T.BooleanType())
        def maybe_seen(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            cache: dict[int, object] = {}
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
