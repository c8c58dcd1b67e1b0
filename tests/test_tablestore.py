"""Snapshot-store unit tests: atomic visibility, MOR resolution,
compaction invariance, retention pruning, concurrent writers."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from ethereum_raw_data_crawler_spark.sources.tablestore import (
    CommitConflict,
    SnapshotStore,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), False),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"])).select(
        "k", F.col("v").cast("int")
    )


def test_append_visibility_is_atomic(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    txn = store.transaction(1)
    txn.append("t", _df(spark, [("a", 1)]))
    # staged but uncommitted -> invisible
    assert store.read(spark, "t", SCHEMA).count() == 0
    txn.commit()
    assert store.read(spark, "t", SCHEMA).count() == 1


def test_mor_upsert_resolution(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "mor"})
    txn = store.transaction(1)
    txn.overwrite("t", _df(spark, [("a", 1), ("b", 1), ("c", 1)]))
    txn.commit()
    # round 2: update a, delete-only b (no reinsert), insert d
    txn = store.transaction(2)
    txn.upsert(
        "t",
        "k",
        _df(spark, [("a", 2), ("d", 2)]),
        pd.DataFrame({"k": ["a", "b"]}),
    )
    txn.commit()
    got = {(r["k"], r["v"]) for r in store.read(spark, "t", SCHEMA).collect()}
    assert got == {("a", 2), ("c", 1), ("d", 2)}
    # round 3: update a again (delete kills the round-2 row, not round-3's)
    txn = store.transaction(3)
    txn.upsert("t", "k", _df(spark, [("a", 3)]), pd.DataFrame({"k": ["a"]}))
    txn.commit()
    got = {(r["k"], r["v"]) for r in store.read(spark, "t", SCHEMA).collect()}
    assert got == {("a", 3), ("c", 1), ("d", 2)}
    # compaction is equality-invariant and clears the delete set
    store.compact(spark, "t", SCHEMA, 4)
    got2 = {(r["k"], r["v"]) for r in store.read(spark, "t", SCHEMA).collect()}
    assert got2 == got
    assert store.manifest()["tables"]["t"]["deletes"] == []


def test_prune_fragments_retention(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"m": "append"})
    for rnd in (1, 2, 3):
        txn = store.transaction(rnd)
        txn.append("m", _df(spark, [(f"r{rnd}", rnd)]))
        txn.commit()
    assert store.read(spark, "m", SCHEMA).count() == 3
    dropped = store.prune_fragments("m", before_seq=3, rnd=4)
    assert dropped == 2
    got = {r["k"] for r in store.read(spark, "m", SCHEMA).collect()}
    assert got == {"r3"}


def test_crash_orphans_invisible(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    txn = store.transaction(1)
    txn.append("t", _df(spark, [("a", 1)]))
    txn.commit()
    # simulate a crashed writer: data dir exists, manifest never swapped
    txn2 = store.transaction(2)
    txn2.append("t", _df(spark, [("zz", 9)]))  # no commit
    fresh = SnapshotStore(str(tmp_path / "s"))
    got = {r["k"] for r in fresh.read(spark, "t", SCHEMA).collect()}
    assert got == {"a"}


def test_stale_writer_conflicts_instead_of_losing_a_commit(spark, tmp_path):
    """Two handles on one store both number their commit from version 0.
    The second must not overwrite the first's manifest: it gets a
    CommitConflict, the winner's fragment stays, and a retry on the
    loser's handle re-reads the store and lands both."""
    root = str(tmp_path / "s")
    SnapshotStore.create(root, {"t": "append"})
    a, b = SnapshotStore(root), SnapshotStore(root)
    ta, tb = a.transaction(0), b.transaction(0)
    ta.append_pandas("t", pd.DataFrame({"k": ["a"], "v": [1]}), SCHEMA)
    tb.append_pandas("t", pd.DataFrame({"k": ["b"], "v": [2]}), SCHEMA)
    ta.commit()
    with pytest.raises(CommitConflict):
        tb.commit()
    with open(tmp_path / "s" / "manifest-000001.json") as fh:
        assert len(json.load(fh)["tables"]["t"]["fragments"]) == 1
    assert {r["k"] for r in b.read(spark, "t", SCHEMA).collect()} == {"a"}
    retry = b.transaction(0)
    retry.append_pandas("t", pd.DataFrame({"k": ["b"], "v": [2]}), SCHEMA)
    retry.commit()
    assert b.manifest()["version"] == 2
    fresh = SnapshotStore(root)
    assert {r["k"] for r in fresh.read(spark, "t", SCHEMA).collect()} == {"a", "b"}
    assert not [f for f in (tmp_path / "s").iterdir() if f.name.endswith(".tmp")]
