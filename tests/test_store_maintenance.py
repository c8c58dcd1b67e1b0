"""Round-2 maintenance surfaces: row-level DELETE WHERE on append tables
(takedown path), size-aware MOR delete resolution, Bloom sizing/growth,
manifest-history time travel, no-empty-final-round, and health rows."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from ethereum_raw_data_crawler_spark import gates
from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.operators.bloom import (
    BloomFilter,
    PartitionedBloom,
)
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import HEALTH, METRICS
from ethereum_raw_data_crawler_spark.sources.tablestore import SnapshotStore

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


# ---------------------------------------------------------------- DELETE WHERE


def test_delete_where_prunes_fragments_and_keeps_history(spark, tmp_path):
    """DELETE FROM t WHERE pred: matching rows vanish, fragments without
    matches keep their exact files (COW pruning), and time travel still
    shows the pre-delete state."""
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    txn = store.transaction(1)
    txn.append("t", _df(spark, [("a", 1), ("b", 1)]))
    txn.commit()
    txn = store.transaction(2)
    txn.append("t", _df(spark, [("c", 2), ("d", 2)]))
    txn.commit()
    pre_version = store.manifest()["version"]
    frag_dirs_before = [f["dir"] for f in store.manifest()["tables"]["t"]["fragments"]]

    n = store.delete_where(spark, "t", SCHEMA, "k = 'c'", rnd=3)
    assert n == 1
    got = {r["k"] for r in store.read(spark, "t", SCHEMA).collect()}
    assert got == {"a", "b", "d"}
    # fragment 1 (no matches) untouched; fragment 2 rewritten
    frag_dirs_after = [f["dir"] for f in store.manifest()["tables"]["t"]["fragments"]]
    assert frag_dirs_after[0] == frag_dirs_before[0]
    assert frag_dirs_after[1] != frag_dirs_before[1]
    # time travel: the pre-delete snapshot still has 'c'
    old = {
        r["k"] for r in store.read(spark, "t", SCHEMA, version=pre_version).collect()
    }
    assert old == {"a", "b", "c", "d"}
    # no-match predicate is a no-op (no commit, no rewrite)
    assert store.delete_where(spark, "t", SCHEMA, "k = 'zz'", rnd=4) == 0
    assert store.manifest()["version"] == pre_version + 1


def test_engine_delete_pages_takedown(spark, t1_tables, tmp_path):
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=400),
    )
    eng.run(max_rounds=2)
    from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

    pages = eng.store.read(spark, "pages_out", PAGES_OUT)
    victim = pages.select("url").first()["url"]
    pre_round = eng.store.round
    n = eng.delete_pages(f"url = '{victim}'")
    assert n == 1
    urls = {r["url"] for r in eng.store.read(spark, "pages_out", PAGES_OUT).collect()}
    assert victim not in urls
    # pre-delete snapshot still shows it: version_for_round resolves to
    # the LAST commit at pre_round (the delete itself) — go one back
    v = eng.store.version_for_round(pre_round)
    old = eng.store.read(spark, "pages_out", PAGES_OUT, version=v - 1)
    assert victim in {r["url"] for r in old.collect()}


# ------------------------------------------------- size-aware MOR delete join


def test_mor_large_delete_set_not_broadcast(spark, tmp_path, monkeypatch):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "mor"})
    txn = store.transaction(1)
    txn.overwrite("t", _df(spark, [(f"k{i}", 1) for i in range(20)]))
    txn.commit()
    txn = store.transaction(2)
    txn.upsert(
        "t",
        "k",
        _df(spark, [("k0", 2)]),
        pd.DataFrame({"k": [f"k{i}" for i in range(10)]}),
    )
    txn.commit()
    # small delete set -> broadcast hint present
    plan_small = store.read(spark, "t", SCHEMA)._jdf.queryExecution().toString()
    assert "Broadcast" in plan_small
    # force the threshold below the delete-set size -> no broadcast hint;
    # the optimizer plans from real sizes instead
    monkeypatch.setattr(gates, "DELETE_BROADCAST_MAX", 5)
    resolved = store.read(spark, "t", SCHEMA)
    got = {(r["k"], r["v"]) for r in resolved.collect()}
    assert got == {("k0", 2)} | {(f"k{i}", 1) for i in range(10, 20)}
    optimized = resolved._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "broadcast" not in optimized.lower()


# --------------------------------------------------------------- Bloom growth


def test_bloom_sized_for_and_growth_keeps_fpr_low():
    """Insert 10x the initial capacity with engine-style rebuild-on-grow:
    FPR stays < 5% and there are never false negatives."""
    rng = np.random.default_rng(11)
    bf = BloomFilter.sized_for(1_000, fpr=0.01)
    inserted = np.array([], dtype=np.int64)
    for _ in range(10):
        batch = rng.integers(-(2**62), 2**62, size=1_000, dtype=np.int64)
        inserted = np.concatenate([inserted, batch])
        bf.add_many(batch)
        if bf.should_grow():  # the engine's rebuild path
            bf = BloomFilter.sized_for(2 * bf.n_added, fpr=0.01)
            bf.add_many(inserted)
    assert bf.contains_many(inserted).all()  # no false negatives, ever
    fresh = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    fpr = bf.contains_many(fresh).mean()
    assert fpr < 0.05, fpr
    assert bf.n_bits > BloomFilter.sized_for(1_000).n_bits


def test_fixed_bloom_saturates_without_growth():
    """Control: the round-1 fixed-size behavior really was the failure
    mode the growth path fixes."""
    rng = np.random.default_rng(12)
    bf = BloomFilter(n_bits=1 << 10, k=5)
    bf.add_many(rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64))
    fresh = rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64)
    assert bf.contains_many(fresh).mean() > 0.5  # saturated: FPR collapsed
    assert bf.should_grow()


def test_engine_bloom_grows_mid_crawl(spark, t1_tables, tmp_path):
    """A deliberately tiny initial bitmap must grow during the crawl and
    stay exactly oracle-equivalent (prefilter is correctness-neutral)."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        cfg,
    )
    # swap in a deliberately tiny partitioned bitmap (capacity ~29
    # keys/bucket), pre-folded with the already-seen seed keys so the
    # prefilter stays free of false negatives
    tiny = PartitionedBloom.create(
        str(tmp_path / "store"), n_buckets=2, size={"n_bits": 128, "k": 3}, rnd=0
    )
    tiny.add_keys(eng.seen().select("url_hash"), "url_hash", 0)
    eng._bloom = tiny
    eng.run()
    assert eng._bloom.total_bits > 2 * 128  # at least one bucket grew
    trace = [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in eng.read_trace().orderBy("round", "seq").collect()
    ]
    assert trace == res.trace


# --------------------------------------- exhaustion: no extra empty round


def test_no_empty_final_round(spark, t1_tables, tmp_path):
    """A crawl ending by exhaustion must not execute/commit a trailing
    empty round: metrics rounds == oracle metrics rounds, and the last
    committed round did real work."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        cfg,
    )
    stats = eng.run()
    assert stats[-1]["popped"] > 0
    engine_rounds = {
        r["round"]
        for r in eng.store.read(spark, "metrics", METRICS)
        .select("round")
        .distinct()
        .collect()
    }
    assert engine_rounds == {m["round"] for m in res.metrics}
    # resume after exhaustion: run() is a no-op, nothing new committed
    v = eng.store.manifest()["version"]
    assert CrawlEngine.resume(spark, str(tmp_path / "store")).run() == []
    assert SnapshotStore(str(tmp_path / "store")).manifest()["version"] == v


# ------------------------------------------------------------------- health


def test_health_rows_per_round(spark, t1_tables, tmp_path):
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=400),
    )
    eng.run(max_rounds=2)
    rows = eng.health().collect()
    by_round: dict[int, set] = {}
    for r in rows:
        by_round.setdefault(r["round"], set()).add(r["component"])
        assert isinstance(r["healthy"], bool)
    assert by_round == {
        1: {"store", "bloom", "fetch", "scheduler", "frontier"},
        2: {"store", "bloom", "fetch", "scheduler", "frontier"},
    }
    sat = [r for r in rows if r["component"] == "bloom"]
    assert all(0.0 <= r["value"] < 1.0 for r in sat)


def test_degraded_delete_gauge_triggers_compaction(spark, t1_tables, tmp_path):
    """Health gauges are ACTED on (reference: performHealthCheck recovery,
    crawler_service.go:820-907), LAZILY: a round whose commit pushes the
    frontier's delete-debt ratio past compact_debt_frac records the
    degraded gauge, and the NEXT round compacts before its pop reads the
    frontier — so the debt a crawl ends on is never rewritten for
    nobody, and the rewrite that does happen immediately serves the next
    round's read."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=400),
        compact_every=1000,  # the schedule alone would never compact here
        compact_debt_frac=0.0,  # any delete debt is "degraded"
    )
    eng.run(max_rounds=2)
    t = eng.store.manifest()["tables"]["frontier"]
    # round 2's precompact cleared round 1's debt; only round 2's own
    # delete fragment (seq == 2) remains pending for a hypothetical
    # round 3 — debt is bounded at ONE round's deletes, never cumulative
    assert [f["seq"] for f in t["deletes"]] == [2]
    # the degraded gauge was recorded in the round that created the debt
    unhealthy = [
        r
        for r in eng.health().collect()
        if r["component"] == "frontier" and not r["healthy"]
    ]
    assert unhealthy
    # and the rewrite really ran: the surviving base is the single
    # compacted fragment (committed under round 1) plus round 2's upsert
    assert [f["seq"] for f in t["fragments"]] == [1, 2]


def test_relative_debt_threshold_never_compacts_small_batches(
    spark, t1_tables, tmp_path
):
    """The production-shape guarantee the relative trigger exists for: a
    multi-round crawl whose per-round delete debt stays below
    compact_debt_frac of the frontier never health-compacts — the
    O(frontier) rewrite is amortized, not per-round. (The at-scale
    variant, 3 rounds x 1M batch over a 7M frontier, lives in
    tests/test_compact_trigger_scale.py; this is the same invariant at
    test scale.)"""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=8),  # tiny batch vs a ~300-row frontier
        compact_every=1000,
        compact_debt_frac=0.5,
    )
    eng.run(max_rounds=3)
    t = eng.store.manifest()["tables"]["frontier"]
    # three rounds -> three delete fragments still pending: no rewrite ran
    assert [f["seq"] for f in t["deletes"]] == [1, 2, 3]
    assert len(t["fragments"]) == 4  # seed + one upsert per round, intact


# ------------------------------------------------- manifest history / O(1)


def test_version_for_round_uses_history(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    for rnd in (0, 1, 1, 3):
        txn = store.transaction(rnd)
        txn.append("t", _df(spark, [(f"r{rnd}", rnd)]))
        txn.commit()
    # history: v0->r-1, v1->r0, v2->r1, v3->r1, v4->r3
    assert store.version_for_round(0) == 1
    assert store.version_for_round(1) == 3
    assert store.version_for_round(2) == 3
    assert store.version_for_round(99) == 4
    with pytest.raises(ValueError):
        store.version_for_round(-5)
    hist = store.manifest()["history"]
    assert hist == [[0, -1], [1, 0], [2, 1], [3, 1], [4, 3]]


def test_upsert_skips_empty_delete_fragment(spark, tmp_path):
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "mor"})
    txn = store.transaction(1)
    txn.upsert("t", "k", _df(spark, [("a", 1)]), pd.DataFrame({"k": []}))
    txn.commit()
    assert store.manifest()["tables"]["t"]["deletes"] == []
    assert {r["k"] for r in store.read(spark, "t", SCHEMA).collect()} == {"a"}


# ---------------------------------------------- JVM-side dense numbering


def test_assign_global_seq_large_path_is_dense_and_ordered(spark):
    """The distributed (repartitionByRange + offsets +
    monotonically_increasing_id) numbering must produce exactly
    0..n-1 in the requested order — including empty and skewed
    partitions — and the same seqs as the one-partition small path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ethereum_raw_data_crawler_spark.operators.priority_pop import (
        assign_global_seq,
    )

    n = 10_000
    pdf = pd.DataFrame(
        {
            "k": [(i * 2654435761) % n for i in range(n)],  # shuffled keys
            "v": [f"v{i}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    out = assign_global_seq(df, ["k"], "seq", n_partitions=5).collect()
    got = sorted((r["k"], r["seq"]) for r in out)
    assert [s for _, s in got] == list(range(n))
    # order binding: seq follows k exactly
    assert got == [(k, i) for i, k in enumerate(sorted(pdf["k"]))]
    small = assign_global_seq(df, ["k"], "seq", approx_count=n).collect()
    assert sorted((r["k"], r["seq"]) for r in small) == got


# ------------------------------------------------- canonicalization version


def test_resume_refuses_canon_version_drift(spark, t1_tables, tmp_path):
    """url_hash keys derive from the canonical string, so a store written
    under different canonicalization rules must not silently resume (it
    would re-admit previously-seen urls). The stamp is written at create;
    a mismatched or ABSENT stamp raises. A config missing any key that
    create writes (here ``track_host_graph``) is from a store older than
    the oldest supported layout and fails to resume too."""
    import json
    import pytest

    tabs = t1_tables
    root = str(tmp_path / "store")
    eng = CrawlEngine.create(
        spark,
        root,
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(tabs["politeness"]),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=50),
    )
    eng.run(max_rounds=1)

    cfg_path = f"{root}/config.json"
    saved = json.load(open(cfg_path))
    from ethereum_raw_data_crawler_spark.functions.urls import CANON_VERSION

    assert saved["canon_version"] == CANON_VERSION

    # mismatch -> refuse with a migration-pointing error
    saved["canon_version"] = CANON_VERSION + 1
    json.dump(saved, open(cfg_path, "w"))
    with pytest.raises(RuntimeError, match="canonicalization rules"):
        CrawlEngine.resume(spark, root)

    # pre-stamp store (no field) -> refused like a mismatch
    del saved["canon_version"]
    json.dump(saved, open(cfg_path, "w"))
    with pytest.raises(RuntimeError, match="canonicalization rules"):
        CrawlEngine.resume(spark, root)

    # a config older than the host-graph layout (no track_host_graph)
    saved["canon_version"] = CANON_VERSION
    del saved["track_host_graph"]
    json.dump(saved, open(cfg_path, "w"))
    with pytest.raises(KeyError, match="track_host_graph"):
        CrawlEngine.resume(spark, root)
