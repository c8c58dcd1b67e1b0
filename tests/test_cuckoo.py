"""Cuckoo seen-filter: unit exactness, Spark maintenance jobs, engine
equivalence, and the one semantic the Bloom twin cannot offer — delete
(forget_urls unlearn; see operators/cuckoo.py for the design).

Reference correspondence: dedup-before-write (mongodb.go:86-92) and the
row-delete unlearn (block_repository_impl.go:264-268) — the reference's
unique index shrinks with the row; the cuckoo filter restores that
property for the at-rest prefilter."""

import numpy as np
import pandas as pd
import pytest

from ethereum_raw_data_crawler_spark.operators.cuckoo import (
    CuckooFilter,
    PartitionedCuckoo,
)


def _rand_keys(n, seed=7):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**62), 2**62, n * 2, dtype=np.int64))[:n]


# ---------------------------------------------------------------- unit level
def test_no_false_negatives_and_fpr_bound():
    keys = _rand_keys(200_000)
    cf = CuckooFilter.sized_for(len(keys))
    cf.add_many(keys)
    assert cf.contains_many(keys).all(), "cuckoo filter false negative"
    probe = np.setdiff1d(
        np.random.default_rng(9).integers(-(2**62), 2**62, 500_000, dtype=np.int64),
        keys,
    )
    fpr = cf.contains_many(probe).mean()
    # design FPR = 2*slots/2^16 ~ 1.2e-4; allow 4x sampling slack
    assert fpr < 5e-4, fpr


def test_delete_is_exact_and_counted():
    keys = _rand_keys(50_000, seed=3)
    cf = CuckooFilter.sized_for(len(keys))
    cf.add_many(keys)
    half = keys[: len(keys) // 2]
    assert cf.delete_many(half) == len(half)
    # deleted keys answer like never-inserted keys (FPR-bounded)
    assert cf.contains_many(half).mean() < 5e-4
    # the other half is untouched — no collateral damage
    assert cf.contains_many(keys[len(keys) // 2 :]).all()


def test_duplicate_insert_delete_multiset_semantics():
    cf = CuckooFilter(1 << 8)
    dup = np.array([42, 42, 42], dtype=np.int64)
    cf.add_many(dup)
    assert cf.contains_many(np.array([42]))[0]
    assert cf.delete_many(dup) == 3
    assert not cf.contains_many(np.array([42]))[0]
    # deleting a key that was never inserted removes nothing
    assert cf.delete_many(np.array([42], dtype=np.int64)) == 0


def test_high_load_eviction_and_determinism():
    """Fill to 95% of slots: the eviction walk must place everything
    (4-slot cuckoo design load), and byte-identical across runs — the
    kick schedule is deterministic, not random."""
    nb = 1 << 10
    keys = _rand_keys(int(nb * 4 * 0.95), seed=3)
    a, b = CuckooFilter(nb), CuckooFilter(nb)
    a.add_many(keys)
    b.add_many(keys)
    assert a.contains_many(keys).all()
    assert (a.table == b.table).all() and (a.stash == b.stash).all()
    assert a.should_grow()  # past design load, growth is signalled


def test_incremental_batches_keep_membership():
    nb = 1 << 10
    keys = _rand_keys(3000, seed=11)
    cf = CuckooFilter(nb)
    for chunk in np.array_split(keys, 37):
        cf.add_many(chunk)
    assert cf.contains_many(keys).all()


def test_save_load_roundtrip(tmp_path):
    keys = _rand_keys(10_000, seed=5)
    cf = CuckooFilter.sized_for(len(keys))
    cf.add_many(keys)
    p = str(tmp_path / "cf.npz")
    cf.save(p)
    back = CuckooFilter.load(p)
    assert (back.table == cf.table).all()
    assert back.n_added == cf.n_added
    assert back.contains_many(keys).all()


# ------------------------------------------------------- partitioned at rest
@pytest.fixture()
def pc_store(spark, tmp_path):
    keys = _rand_keys(30_000, seed=13)
    pc = PartitionedCuckoo.create(
        str(tmp_path), n_buckets=8, expected_keys=len(keys)
    )
    kdf = spark.createDataFrame(pd.DataFrame({"url_hash": keys}))
    pc.add_keys(kdf, "url_hash", rnd=1)
    return pc, keys, kdf


def test_partitioned_add_probe_split(spark, tmp_path, pc_store):
    pc, keys, _ = pc_store
    rng = np.random.default_rng(17)
    absent = np.setdiff1d(
        rng.integers(-(2**62), 2**62, 30_000, dtype=np.int64), keys
    )
    cand = spark.createDataFrame(
        pd.DataFrame({"url_hash": np.concatenate([keys[:5000], absent[:5000]])})
    )
    new, maybe = pc.probe_split(cand, "url_hash", spark)
    assert pc.last_probe_mode == "broadcast"
    maybe_keys = {r["url_hash"] for r in maybe.collect()}
    new_keys = {r["url_hash"] for r in new.collect()}
    assert set(keys[:5000]) <= maybe_keys, "false negative through probe_split"
    # false positives bounded: almost all absent keys land in definitely-new
    assert len(new_keys & set(absent[:5000])) >= 4995


def test_partitioned_delete_keys(spark, tmp_path, pc_store):
    pc, keys, _ = pc_store
    victims = keys[:10_000]
    vdf = spark.createDataFrame(pd.DataFrame({"url_hash": victims}))
    removed = pc.delete_keys(vdf, "url_hash", rnd=2)
    assert removed == len(victims)
    new, maybe = pc.probe_split(vdf, "url_hash", spark)
    # unlearned: (FPR-bounded) all victims are definitely-new again
    assert new.count() >= len(victims) - 5
    survivors = spark.createDataFrame(pd.DataFrame({"url_hash": keys[10_000:]}))
    _, maybe2 = pc.probe_split(survivors, "url_hash", spark)
    assert maybe2.count() == len(keys) - 10_000


def test_partitioned_grow_rebuilds_from_ground_truth(spark, tmp_path):
    # 4 buckets sized for ~1024 keys each (the sizing floor): nb=512 ->
    # 2048 slots, design capacity 1843. 12k keys = 3k/bucket over-fills
    # past 100% of slots — the stash must absorb the overflow WITHOUT
    # false negatives, and add_keys must signal growth.
    keys = _rand_keys(12_000, seed=23)
    pc = PartitionedCuckoo.create(str(tmp_path), n_buckets=4, expected_keys=256)
    kdf = spark.createDataFrame(pd.DataFrame({"url_hash": keys}))
    saturated = pc.add_keys(kdf, "url_hash", rnd=1)
    assert saturated, "tiny filter over-filled must signal growth"
    before = {b: e["nb"] for b, e in pc.buckets.items()}
    pc.grow_buckets(kdf, "url_hash", rnd=1, grow=saturated)
    for b in saturated:
        assert pc.buckets[b]["nb"] > before[b]
    _, maybe = pc.probe_split(kdf, "url_hash", spark)
    assert maybe.count() == len(keys), "membership lost across growth"


# ------------------------------------------------------------ engine level
def test_engine_cuckoo_trace_equals_oracle(spark, t1_tables, tmp_path):
    """Swapping the prefilter family is correctness-neutral: the cuckoo
    engine's trace/seen equal the pure-Python oracle exactly (same gate
    the Bloom engine passes)."""
    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

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
        seen_filter="cuckoo",
    )
    eng.run()
    etrace = [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in eng.read_trace().orderBy("round", "seq").collect()
    ]
    assert etrace == res.trace
    eseen = {
        (r["url_hash"], r["url_canon"], r["first_seen_round"])
        for r in eng.seen().collect()
    }
    assert eseen == {(h, c, rnd) for h, (c, rnd) in res.seen.items()}
    # the filter family is persisted and survives resume
    eng2 = CrawlEngine.resume(spark, str(tmp_path / "store"))
    assert eng2.seen_filter == "cuckoo"
    assert isinstance(eng2._bloom, PartitionedCuckoo)


def test_engine_forget_urls_unlearns_on_cuckoo(spark, t1_tables, tmp_path):
    """forget_urls: seen rows deleted (both families) AND — cuckoo only —
    the prefilter unlearns, so a re-discovery of the forgotten URL rides
    the definitely-new fast path instead of the anti-join slow path."""
    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

    tabs = t1_tables
    cfg = CrawlConfig(batch_size=200)
    engines = {}
    for family in ("bloom", "cuckoo"):
        eng = CrawlEngine.create(
            spark,
            str(tmp_path / family),
            spark.createDataFrame(tabs["pages"]),
            spark.createDataFrame(tabs["seeds"]),
            spark.createDataFrame(tabs["robots"]),
            spark.createDataFrame(tabs["politeness"]),
            None,
            cfg,
            seen_filter=family,
        )
        eng.run(max_rounds=2)
        engines[family] = eng

    for family, eng in engines.items():
        victim = (
            eng.store.read(spark, "pages_out", PAGES_OUT)
            .select("url")
            .first()["url"]
        )
        seen_before = eng.seen().count()
        n = eng.forget_urls([victim])
        assert n == 1
        assert eng.seen().count() == seen_before - 1

        from ethereum_raw_data_crawler_spark.functions.urls import (
            canonicalize_url,
            url_hash64,
        )

        key = url_hash64(canonicalize_url(victim))
        cand = spark.createDataFrame(pd.DataFrame({"url_hash": [key]}))
        new, maybe = eng._bloom.probe_split(cand, "url_hash", spark)
        if family == "cuckoo":
            assert new.count() == 1, "cuckoo must unlearn the forgotten URL"
        else:
            # the Bloom cannot unset bits: still maybe-seen (slow path),
            # correct only because the seen-table backstop saw the delete
            assert maybe.count() == 1
