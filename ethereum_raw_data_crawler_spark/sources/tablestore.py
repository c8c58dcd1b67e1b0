"""Snapshot table store: Iceberg-protocol semantics over plain Parquet.

The sandbox image has no Iceberg runtime jars, so the table protocol is
isolated behind this one module (SURVEY.md §7 known-hard #4). It
reproduces the three Iceberg properties the engine's correctness depends
on; swapping in a real Iceberg catalog replaces this module and nothing
else:

1. **Atomic snapshot commits** — a numbered JSON manifest written to a
   temp file and published by exclusive create (``os.link``); the current
   state is the highest-numbered manifest. A crash mid-transaction leaves
   orphan data directories that no manifest references (exactly Iceberg's
   failed-commit behavior). Two writers that number the same version
   cannot both publish it: the loser gets :class:`CommitConflict` instead
   of silently overwriting the winner's commit.
   This is the engine's analogue of the reference's
   resume-from-last-processed checkpoint (reference:
   internal/application/service/crawler_service.go:199-226) and of its
   publish-only-after-DB-save ordering (crawler_service.go:592-607):
   every table write of a round becomes visible in one commit or not at
   all, so a kill between rounds is always safe.

2. **Append tables** — pages/trace/metrics/seen: a commit adds data
   directories; readers union all fragments. No rewrite, ever.

3. **Merge-on-read upserts** — the frontier: a commit writes an
   equality-delete fragment (keys, seq) plus an append fragment
   (rows, seq). A delete at seq ``s`` kills rows with ``_seq < s``.
   Readers resolve survivors with one broadcast join against the (small,
   bounded by compaction) delete set. ``compact`` rewrites the base and
   clears deletes — Iceberg's rewrite_data_files. This is what makes a
   10^10-row frontier updatable per round without rewriting the table:
   per-round IO is O(changed rows), not O(frontier).
"""

from __future__ import annotations

import glob
import json
import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ethereum_raw_data_crawler_spark import gates

SEQ_COL = "_seq"
#: a MOR table's delete fragments: rows keyed ``key`` die below ``del_seq``
_DELETES = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("del_seq", T.IntegerType(), False),
    ]
)


def _write_pandas(absdir: str, pdf, spark_schema: T.StructType) -> None:
    """Write a SMALL pandas frame as one parquet file driver-side (no
    Spark job). The arrow schema is derived from the Spark schema so the
    file reads back identically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_type = {
        T.IntegerType(): pa.int32(),
        T.LongType(): pa.int64(),
        T.StringType(): pa.string(),
        T.BooleanType(): pa.bool_(),
        T.DoubleType(): pa.float64(),
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
        T.BinaryType(): pa.binary(),
    }
    schema = pa.schema(
        [pa.field(f.name, arrow_type[f.dataType], f.nullable) for f in spark_schema.fields]
    )
    os.makedirs(absdir, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(absdir, "part-00000.parquet"))


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema`` built on the JVM (a ``LocalRelation``):
    it plans as an empty ``LocalTableScan`` of 0 partitions and runs no
    Python. ``createDataFrame([], schema)`` builds a Python RDD instead,
    whose first job starts a Python daemon and workers of its own to
    produce no rows."""
    jss = spark._jsparkSession
    jdf = jss.createDataFrame(
        spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
    )
    return DataFrame(jdf, spark)


class CommitConflict(RuntimeError):
    """Another writer published the manifest version this commit numbered
    (its handle's cached manifest was stale). Nothing of this commit is
    visible; the handle has dropped its cached manifest, so a retry
    re-reads the winner's state."""


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        self._manifest: dict | None = None

    # ---- manifest plumbing -------------------------------------------------
    def _manifest_version(self) -> int:
        best = -1
        if os.path.isdir(self.root):
            for f in os.listdir(self.root):
                if f.startswith("manifest-") and f.endswith(".json"):
                    best = max(best, int(f[len("manifest-") : -len(".json")]))
        return best

    def manifest(self, version: int | None = None) -> dict:
        """Current manifest, or a historical one (time travel — every
        commit's manifest is retained, Iceberg snapshot-id reads)."""
        if version is not None:
            path = os.path.join(self.root, f"manifest-{version:06d}.json")
            with open(path) as fh:
                return json.load(fh)
        if self._manifest is None:
            v = self._manifest_version()
            if v < 0:
                raise FileNotFoundError(f"no manifest under {self.root}")
            with open(os.path.join(self.root, f"manifest-{v:06d}.json")) as fh:
                self._manifest = json.load(fh)
        return self._manifest

    def version_for_round(self, rnd: int) -> int:
        """Latest manifest version whose committed round <= rnd.

        The current manifest carries the full [version, round] commit
        history (Iceberg's snapshot log), so this is an in-memory scan —
        O(1) file reads, not one JSON read per historical manifest."""
        best = None
        for v, r in self.manifest()["history"]:
            if r <= rnd:
                best = v
        if best is None:
            raise ValueError(f"no snapshot at or before round {rnd}")
        return best

    @property
    def round(self) -> int:
        return self.manifest()["round"]

    @classmethod
    def create(cls, root: str, tables: dict[str, str]) -> "SnapshotStore":
        """tables: name -> "append" | "mor". Round starts at -1 (nothing
        committed, not even seeding)."""
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        store = cls(root)
        manifest = {
            "version": 0,
            "round": -1,
            "history": [[0, -1]],
            "tables": {
                name: {"type": kind, "fragments": [], "deletes": []}
                for name, kind in tables.items()
            },
        }
        store._write_manifest(manifest)
        return store

    def _write_manifest(self, manifest: dict) -> None:
        tmp = os.path.join(self.root, f".manifest.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        name = f"manifest-{manifest['version']:06d}.json"
        try:
            # exclusive create of the complete file: os.replace would let a
            # handle numbering from a stale manifest overwrite a newer one
            os.link(tmp, os.path.join(self.root, name))
        except FileExistsError:
            self._manifest = None
            raise CommitConflict(
                f"{name} under {self.root} was published by another writer"
            ) from None
        finally:
            os.unlink(tmp)
        self._manifest = manifest

    # ---- reads -------------------------------------------------------------
    def fragment_rows(self, frags: list[dict]) -> int:
        """Total row count across fragments from parquet footers only —
        no Spark job, no data read (Iceberg manifest row-count stats)."""
        import pyarrow.dataset as ds

        total = 0
        for f in frags:
            total += ds.dataset(
                os.path.join(self.root, f["dir"]), format="parquet"
            ).count_rows()
        return total

    def partition_files(self, name: str) -> dict[str, list[str]]:
        """``{partition value: [parquet paths]}`` of table ``name``'s one
        ``partition_by`` column, from directory listings (no Spark job):
        Iceberg's ``scan(filter).plan_files()``."""
        out: dict[str, list[str]] = {}
        for f in self.manifest()["tables"][name]["fragments"]:
            (col,) = f["partition_by"]
            pattern = os.path.join(self.root, f["dir"], f"{col}=*", "*.parquet")
            for path in sorted(glob.glob(pattern)):
                value = os.path.basename(os.path.dirname(path))[len(col) + 1 :]
                out.setdefault(value, []).append(path)
        return out

    def _read_fragments(
        self, spark: SparkSession, frags: list[dict], schema: T.StructType
    ) -> DataFrame:
        dirs = [os.path.join(self.root, f["dir"]) for f in frags]
        if not dirs:
            return empty_frame(spark, schema)
        return spark.read.schema(schema).parquet(*dirs)

    def read(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        version: int | None = None,
    ) -> DataFrame:
        """Contents of ``name`` — current, or as of an older manifest
        ``version`` (time travel). For MOR tables, resolves equality
        deletes (one broadcast join against the bounded delete set)."""
        t = self.manifest(version=version)["tables"][name]
        if t["type"] == "append":
            return self._read_fragments(spark, t["fragments"], schema)
        # mor
        data_schema = T.StructType(
            list(schema.fields) + [T.StructField(SEQ_COL, T.IntegerType(), False)]
        )
        rows = self._read_fragments(spark, t["fragments"], data_schema)
        if not t["deletes"]:
            return rows.drop(SEQ_COL)
        dels = (
            self._read_fragments(spark, t["deletes"], _DELETES)
            .groupBy("key")
            .agg(F.max("del_seq").alias("del_seq"))
        )
        # broadcast only while the accumulated delete set is genuinely
        # small (footer row counts, no job); past the threshold the hint
        # would OOM the driver — shuffle instead and let AQE choose.
        if self.fragment_rows(t["deletes"]) <= gates.DELETE_BROADCAST_MAX:
            dels = F.broadcast(dels)
        key = t["key"]
        return (
            rows.join(
                dels, rows[key] == dels["key"], "left"
            )
            .where(F.col("del_seq").isNull() | (F.col(SEQ_COL) >= F.col("del_seq")))
            .drop("key", "del_seq", SEQ_COL)
        )

    # ---- transactions --------------------------------------------------------
    def transaction(self, rnd: int) -> "Transaction":
        return Transaction(self, rnd)

    def prune_fragments(self, name: str, before_seq: int, rnd: int) -> int:
        """Retention for append tables: drop fragments committed before
        ``before_seq`` (the reference's CleanupOldMetrics,
        metrics_repository_impl.go:307-325 — DELETE older than a cutoff,
        here at Iceberg's expire-snapshots granularity: whole fragments,
        no row rewrite). Returns fragments dropped."""
        txn = self.transaction(rnd)
        t = txn.manifest["tables"][name]
        assert t["type"] == "append"
        keep = [f for f in t["fragments"] if f["seq"] >= before_seq]
        dropped = len(t["fragments"]) - len(keep)
        t["fragments"] = keep
        txn.commit()
        return dropped

    def compact(
        self, spark: SparkSession, name: str, schema: T.StructType, rnd: int
    ) -> None:
        """Rewrite a MOR table's survivors as one base fragment and drop the
        delete set (Iceberg rewrite_data_files). Runs inside its own commit."""
        current = self.read(spark, name, schema)
        txn = self.transaction(rnd)
        txn.overwrite(name, current)
        txn.commit()

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        predicate: str,
        rnd: int,
    ) -> int:
        """Row-level ``DELETE FROM <append table> WHERE predicate`` —
        the takedown/redaction path (reference: DeleteBlock /
        DeleteTransactionsByBlockHash, block_repository_impl.go:264-268,
        transaction_repository_impl.go:345-356). Copy-on-write with
        fragment pruning (Iceberg COW delete): ONE pass tags matching rows
        with their source file, only fragments that actually contain
        matches are rewritten; untouched fragments keep their files, and
        every older manifest still references the pre-delete data (time
        travel shows the pre-delete state). Returns rows deleted."""
        t = self.manifest()["tables"][name]
        assert t["type"] == "append", "MOR tables delete via upsert()"
        if not t["fragments"]:
            return 0
        tagged = (
            self._read_fragments(spark, t["fragments"], schema)
            .where(predicate)
            .select(F.input_file_name().alias("_file"))
            .groupBy("_file")
            .count()
        ).collect()
        if not tagged:
            return 0
        n_deleted = int(sum(r["count"] for r in tagged))
        # input_file_name() yields a file:// URI with URL-encoded characters;
        # normalize both sides (decode, strip scheme, realpath) so store roots
        # with './', symlinks, or spaces still map hits back onto fragments.
        from urllib.parse import unquote, urlparse

        def _norm(path: str) -> str:
            if path.startswith("file:"):
                path = urlparse(path).path
            return os.path.realpath(unquote(path))

        hit_files = [_norm(r["_file"]) for r in tagged]

        def _hit(frag: dict) -> bool:
            marker = _norm(os.path.join(self.root, frag["dir"])) + os.sep
            return any(f.startswith(marker) for f in hit_files)

        txn = self.transaction(rnd)
        tt = txn.manifest["tables"][name]
        # every counted file must belong to some fragment, else the commit
        # below would report deletions it never performed
        markers = [
            _norm(os.path.join(self.root, frag["dir"])) + os.sep
            for frag in tt["fragments"]
        ]
        unmapped = [f for f in hit_files if not any(f.startswith(m) for m in markers)]
        if unmapped:  # a bare assert would vanish under python -O and let
            # n_deleted over-report deletions never performed
            raise RuntimeError(f"matched files outside known fragments: {unmapped}")
        kept: list[dict] = []
        for frag in tt["fragments"]:
            if not _hit(frag):
                kept.append(frag)
                continue
            # keep rows where the predicate is false OR NULL: a bare
            # NOT (pred) would silently drop NULL-evaluating rows that were
            # never counted as matches above
            survivors = self._read_fragments(spark, [frag], schema).where(
                f"({predicate}) IS NOT TRUE"
            )
            rel, absdir = self._new_dir(name, f"r{rnd}-cow")
            writer = survivors.write.mode("overwrite")
            if frag.get("partition_by"):
                writer = writer.partitionBy(*frag["partition_by"])
            writer.parquet(absdir)
            kept.append(
                {
                    "dir": rel,
                    "seq": frag["seq"],
                    "partition_by": frag.get("partition_by", []),
                }
            )
        tt["fragments"] = kept
        txn.commit()
        return n_deleted

    def _new_dir(self, name: str, tag: str) -> tuple[str, str]:
        rel = os.path.join("data", name, f"{tag}-{uuid.uuid4().hex[:12]}")
        return rel, os.path.join(self.root, rel)


class Transaction:
    """Stages parquet writes, then commits them in ONE manifest swap.
    Data is written eagerly (it's invisible until the manifest lands)."""

    def __init__(self, store: SnapshotStore, rnd: int) -> None:
        self.store = store
        self.rnd = rnd
        import copy

        self.manifest = copy.deepcopy(store.manifest())

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None):
        t = self.manifest["tables"][name]
        rel, absdir = self.store._new_dir(name, f"r{self.rnd}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(absdir)
        t["fragments"].append({"dir": rel, "seq": self.rnd, "partition_by": partition_by or []})
        return self

    def append_pandas(self, name: str, pdf, spark_schema: T.StructType):
        """Driver-side append of a SMALL pandas frame via pyarrow — no Spark
        job. Used for per-round metadata rows (metrics) where a distributed
        write is all overhead."""
        t = self.manifest["tables"][name]
        rel, absdir = self.store._new_dir(name, f"r{self.rnd}")
        _write_pandas(absdir, pdf, spark_schema)
        t["fragments"].append({"dir": rel, "seq": self.rnd, "partition_by": []})
        return self

    def upsert(self, name: str, key: str, new_rows: DataFrame, delete_keys):
        """MOR upsert: delete_keys (single column = key; a Spark OR pandas
        frame — pandas writes driver-side, no job) kills rows with
        _seq < rnd; new_rows land with _seq = rnd."""
        t = self.manifest["tables"][name]
        assert t["type"] == "mor"
        t["key"] = key
        # an insert-only commit (e.g. admitted discovery batches) writes no
        # delete fragment: an empty one would still be joined by every
        # subsequent read until compaction
        if isinstance(delete_keys, DataFrame) or len(delete_keys):
            rel_d, abs_d = self.store._new_dir(name, f"r{self.rnd}-del")
            if isinstance(delete_keys, DataFrame):
                delete_keys.select(
                    F.col(key).alias("key"), F.lit(self.rnd).cast("int").alias("del_seq")
                ).write.mode("overwrite").parquet(abs_d)
            else:  # pandas
                pdf = pd.DataFrame(
                    {
                        "key": delete_keys[key].astype(str),
                        "del_seq": self.rnd,
                    }
                )
                _write_pandas(abs_d, pdf, _DELETES)
            t["deletes"].append({"dir": rel_d, "seq": self.rnd})
        rel_a, abs_a = self.store._new_dir(name, f"r{self.rnd}-add")
        new_rows.withColumn(SEQ_COL, F.lit(self.rnd).cast("int")).write.mode(
            "overwrite"
        ).parquet(abs_a)
        t["fragments"].append({"dir": rel_a, "seq": self.rnd, "partition_by": []})
        return self

    def overwrite(self, name: str, df: DataFrame):
        """Replace the table's contents (used by compaction)."""
        t = self.manifest["tables"][name]
        rel, absdir = self.store._new_dir(name, f"r{self.rnd}-base")
        out = df
        if t["type"] == "mor":
            out = df.withColumn(SEQ_COL, F.lit(self.rnd).cast("int"))
        out.write.mode("overwrite").parquet(absdir)
        t["fragments"] = [{"dir": rel, "seq": self.rnd, "partition_by": []}]
        t["deletes"] = []
        return self

    def commit(self) -> None:
        self.manifest["version"] = self.store.manifest()["version"] + 1
        self.manifest["round"] = self.rnd
        self.manifest["history"].append([self.manifest["version"], self.rnd])
        self.store._write_manifest(self.manifest)
