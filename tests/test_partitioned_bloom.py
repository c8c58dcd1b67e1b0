"""Partitioned Bloom seen filter: executor-side build/fold/growth as Spark
jobs, bucket-aligned probe past the broadcast threshold with ZERO driver
filter residency, atomic meta commit + GC, crash catch-up of the filter
meta, the per-bucket rebuild from ``seen`` (``forget_urls``), and the
NULL-predicate DELETE WHERE fix. Resume of a store without a Bloom is in
test_cuckoo.py."""

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from ethereum_raw_data_crawler_spark import gates
from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.functions.urls import (
    canonicalize_url,
    url_hash64,
)
from ethereum_raw_data_crawler_spark.operators.bloom import (
    BloomFilter,
    PartitionedBloom,
    bloom_size,
)
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT
from ethereum_raw_data_crawler_spark.sources.tablestore import SnapshotStore


# ------------------------------------------------ aligned probe


def test_partitioned_filter_aligned_probe(spark, tmp_path, monkeypatch):
    """Build the seen filter from 10M keys entirely executor-side, then
    probe with the broadcast path disabled: the candidates repartition by
    bucket, each task loads only its buckets' files, and the DRIVER
    process never loads a filter file at all (numpy.load is poisoned
    driver-side for the duration — Python workers are separate processes
    and re-import numpy, so only a driver-side load would trip it)."""
    n = 10_000_000
    keys = spark.range(n).select(F.xxhash64("id").alias("url_hash"))
    pf = PartitionedBloom.create(
        str(tmp_path), n_buckets=64, expected_keys=2 * n, rnd=-1
    )
    saturated = pf.add_keys(keys, "url_hash", 0)
    assert not saturated  # sized for 2n, holds n comfortably
    assert pf.n_added_total == n
    assert 0.0 < pf.estimated_saturation() < 0.5

    monkeypatch.setattr(gates, "FILTER_BROADCAST_MAX", 0)  # the 100-TB path
    m = min(n, 50_000)
    present = spark.range(0, m).select(
        F.xxhash64("id").alias("url_hash"), F.lit("p").alias("tag")
    )
    absent = spark.range(n, n + m).select(
        F.xxhash64("id").alias("url_hash"), F.lit("a").alias("tag")
    )
    cands = present.unionByName(absent)

    real_load = np.load

    def poisoned(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("driver loaded a filter file on the aligned path")

    np.load = poisoned
    try:
        new_def, maybe = pf.probe_split(cands, "url_hash", spark)
        got_maybe = {r["tag"] for r in maybe.select("tag").distinct().collect()}
        n_new_present = new_def.where(F.col("tag") == "p").count()
        n_maybe_absent = maybe.where(F.col("tag") == "a").count()
    finally:
        np.load = real_load
    assert pf.last_probe_mode == "aligned"
    assert n_new_present == 0  # no false negatives, ever
    assert "p" in got_maybe
    assert n_maybe_absent / m < 0.05  # FPR at the design point


def _kernel_split(pf, keys):
    """The set of ``keys`` that ``pf``'s bucket bitmaps call maybe-seen,
    computed driver-side from the bucket files: what the probe answers."""
    keys = np.asarray(keys, dtype=np.int64)
    bks = np.mod(keys, pf.n_buckets)
    maybe = set()
    for b, e in pf.buckets.items():
        if e.get("file"):
            sel = keys[bks == b]
            f = BloomFilter.read(os.path.join(pf.dir, e["file"]), e)
            maybe |= set(sel[f.contains_many(sel)].tolist())
    return maybe


@pytest.mark.parametrize("mode", ["broadcast", "aligned"])
def test_probe_split_matches_the_kernels(spark, tmp_path, monkeypatch, mode):
    """An empty filter tags every row definitely new without probing; a
    filled one ships only the key column to Python and splits exactly as
    the bucket bitmaps answer, in both probe modes. Every column of the
    candidates survives either branch."""
    n, B = 4_000, 8
    pf = PartitionedBloom.create(
        str(tmp_path), n_buckets=B, expected_keys=4 * n, rnd=-1
    )
    cands = spark.range(2 * n).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").cast("string").alias("tag")
    )
    scratch = []
    new_def, maybe = pf.probe_split(cands, "url_hash", spark, scratch=scratch)
    assert pf.last_probe_mode == "empty"
    assert maybe.count() == 0 and new_def.count() == 2 * n
    assert set(new_def.columns) == {"url_hash", "tag"}
    assert dict(scratch[0].groupBy("_maybe_seen").count().collect()) == {False: 2 * n}

    pf.add_keys(cands.where(F.col("id") < n), "url_hash", 0)
    if mode == "aligned":
        monkeypatch.setattr(gates, "FILTER_BROADCAST_MAX", 0)
    scratch = []
    new_def, maybe = pf.probe_split(cands, "url_hash", spark, scratch=scratch)
    assert pf.last_probe_mode == mode
    tagged_plan = scratch[0]._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in tagged_plan
    got = {r["url_hash"]: r["tag"] for r in maybe.collect()}
    got_new = {r["url_hash"] for r in new_def.collect()}
    for df in scratch:
        df.unpersist()
    want = _kernel_split(pf, [r["url_hash"] for r in cands.collect()])
    assert set(got) == want and n <= len(want) < 2 * n  # no false negatives
    assert got_new.isdisjoint(want) and len(got_new) + len(want) == 2 * n
    assert all(got[k] is not None for k in got)


def test_partitioned_filter_per_bucket_growth(spark, tmp_path):
    """A bucket pushed past design capacity is rebuilt ALONE at its next
    size; untouched buckets keep their files."""
    # a starting bucket size whose design capacity 1,000 keys overrun
    tiny = {"n_bits": 256, "k": 3}
    pf = PartitionedBloom.create(str(tmp_path), n_buckets=4, size=tiny, rnd=-1)
    # keys all land in bucket 0: pmod(4k, 4) == 0
    keys = spark.range(1_000).select((F.col("id") * 4).alias("url_hash"))
    saturated = pf.add_keys(keys, "url_hash", 0)
    assert saturated == [0]
    before = {b: e["file"] for b, e in pf.buckets.items()}
    pf.rebuild_buckets(keys, "url_hash", 0, {0: bloom_size(2_000)})
    assert pf.buckets[0]["n_bits"] > tiny["n_bits"]
    assert pf.buckets[0]["file"] != before[0]
    assert not pf.saturated_buckets()
    # growth preserved membership: every key still maybe-present
    new_def, maybe = pf.probe_split(keys, "url_hash", spark)
    assert new_def.count() == 0


def test_partitioned_filter_meta_is_atomic_and_gcd(spark, tmp_path):
    pf = PartitionedBloom.create(str(tmp_path), n_buckets=4, rnd=-1)
    for rnd in range(5):
        keys = spark.range(rnd * 100, rnd * 100 + 100).select(
            F.col("id").alias("url_hash")
        )
        pf.add_keys(keys, "url_hash", rnd)
    metas = sorted(glob.glob(os.path.join(pf.dir, "meta-*.json")))
    assert len(metas) == 2  # keep=2
    assert metas[-1].endswith("meta-000004.json")
    assert not glob.glob(os.path.join(pf.dir, ".meta.*.tmp"))
    # every surviving bucket file is referenced by a surviving meta
    assert PartitionedBloom.latest_round(str(tmp_path)) == 4
    pf2 = PartitionedBloom.load(str(tmp_path), 4)
    assert pf2.buckets == pf.buckets and pf2.round == 4
    live = {e["file"] for e in pf2.buckets.values()}
    on_disk = {
        os.path.basename(f)
        for f in glob.glob(os.path.join(pf.dir, "b*.npy"))
    }
    assert live <= on_disk
    assert pf2.n_added_total == 500


# ------------------------------------------------ engine crash catch-up


def _mk_engine(spark, tmp_path, tabs, cfg, politeness, **kw):
    return CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(politeness),
        spark.createDataFrame(tabs["fetch_failures"]),
        cfg,
        **kw,
    )


def test_filter_meta_catchup_on_resume(spark, t1_tables, tmp_path):
    """A crash between the table commit and the filter meta write leaves
    the filter one round behind; resume must fold in the missed seen
    fragment (NOT a full rebuild, NOT a silent skip — a stale filter means
    false negatives = duplicate URLs) and stay oracle-equivalent."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, relaxed)
    eng.run(max_rounds=2)
    last = eng.store.round
    fdir = eng._bloom.dir
    del eng
    # simulate the crash: drop the newest filter meta only
    os.unlink(os.path.join(fdir, f"meta-{last:06d}.json"))
    assert PartitionedBloom.latest_round(str(tmp_path / "store")) == last - 1

    resumed = CrawlEngine.resume(spark, str(tmp_path / "store"))
    assert resumed._bloom.round == last  # caught up, not stale
    # no false negatives after catch-up: every seen key is maybe-present
    new_def, _ = resumed._bloom.probe_split(
        resumed.seen().select("url_hash"), "url_hash", spark
    )
    assert new_def.count() == 0
    resumed.run()
    trace = [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in resumed.read_trace().orderBy("round", "seq").collect()
    ]
    assert trace == res.trace


def test_rebuild_buckets_drops_a_bucket_left_empty(spark, tmp_path):
    """Rebuilt buckets hold only the keys still given: one left with none
    loses its file, so its old keys probe definitely new; a bucket not
    rebuilt keeps its file."""
    pf = PartitionedBloom.create(str(tmp_path), n_buckets=4, rnd=-1)
    keys = spark.range(8).select(F.col("id").alias("url_hash"))  # 2 per bucket
    pf.add_keys(keys, "url_hash", 0)
    before = dict(pf.buckets)
    survivors = keys.where(~F.col("url_hash").isin(1, 5, 6))
    own = {b: {"n_bits": e["n_bits"], "k": e["k"]} for b, e in before.items()}
    pf.rebuild_buckets(survivors, "url_hash", 1, {1: own[1], 2: own[2]})
    assert 1 not in pf.buckets
    assert pf.buckets[2]["file"] != before[2]["file"]
    assert pf.buckets[2]["n_added"] == 1
    assert pf.buckets[0] == before[0] and pf.buckets[3] == before[3]
    new_def, _ = pf.probe_split(keys, "url_hash", spark)
    assert sorted(r["url_hash"] for r in new_def.collect()) == [1, 5, 6]


def test_engine_forget_urls_unlearns(spark, t1_tables, tmp_path):
    """forget_urls deletes the seen row and rebuilds only the Bloom bucket
    its key hashes to: the key probes definitely new, every remaining
    seen key still probes maybe-seen, and a re-discovery takes the
    definitely-new path and re-admits the URL."""
    tabs = t1_tables
    eng = _mk_engine(
        spark, tmp_path, tabs, CrawlConfig(batch_size=200), tabs["politeness"]
    )
    eng.run(max_rounds=2)
    victim = eng.store.read(spark, "pages_out", PAGES_OUT).select("url").first()["url"]
    key = url_hash64(canonicalize_url(victim))
    seen_before = eng.seen().count()
    files_before = {b: e["file"] for b, e in eng._bloom.buckets.items()}

    assert eng.forget_urls([victim]) == 1
    assert eng.forget_urls([victim]) == 0  # nothing left to forget
    seen = eng.seen()
    assert seen.count() == seen_before - 1
    changed = {
        b for b, f in files_before.items() if eng._bloom.buckets.get(b, {}).get("file") != f
    }
    assert changed == {key % eng._bloom.n_buckets}
    cand = spark.createDataFrame(pd.DataFrame({"url_hash": [key]}))
    new_def, _ = eng._bloom.probe_split(cand, "url_hash", spark)
    assert new_def.count() == 1
    new_def, _ = eng._bloom.probe_split(seen.select("url_hash"), "url_hash", spark)
    assert new_def.count() == 0

    rnd = eng.store.round + 1
    cands = spark.createDataFrame([(victim, 0)], "url string, priority int")
    _, stats = eng._discover(cands, rnd, eng.seen())
    tagged = eng._scratch[0]  # the probe's split, appended first
    assert [r["_maybe_seen"] for r in tagged.collect()] == [False]
    eng._drain_scratch()
    assert stats["discovered"] == 1
    assert eng.admit(cands, rnd)["discovered"] == 1
    assert eng.seen().count() == seen_before


# ------------------------------------------------ DELETE WHERE with NULLs


def test_delete_where_null_predicate_keeps_null_rows(spark, tmp_path):
    """Rows where the predicate evaluates to NULL are neither counted as
    matches nor dropped from the rewritten fragment (ADVICE r2, high)."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    pdf = pd.DataFrame(
        {"k": ["a", "b", "c", "d"], "v": [1, 10, None, 20]}
    ).astype({"v": "Int32"})
    df = spark.createDataFrame(pdf, schema)
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()

    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 2  # b and d; NULL row never counted
    left = {
        (r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()
    }
    assert left == {("a", 1), ("c", None)}  # NULL row RETAINED


def test_delete_where_symlinked_store_root(spark, tmp_path):
    """A store opened through a symlink (or any path whose textual form
    differs from input_file_name()'s resolved file:// URI) still maps
    matched files back onto fragments (ADVICE r2, low): the delete really
    rewrites, instead of committing nothing while reporting
    n_deleted > 0."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    real = tmp_path / "real-store-dir"
    real.mkdir()
    link = tmp_path / "link-to-store"
    os.symlink(str(real), str(link))
    store = SnapshotStore.create(str(link), {"t": "append"})
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1, 10]}).astype({"v": "Int32"}),
        schema,
    )
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()
    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 1
    left = {(r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()}
    assert left == {("a", 1)}


def test_delete_where_store_root_with_space(spark, tmp_path):
    """input_file_name() returns a percent-encoded file:// URI; a store
    root containing a space must still match (unquote before comparing)."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    store = SnapshotStore.create(str(tmp_path / "st ore"), {"t": "append"})
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1, 10]}).astype({"v": "Int32"}),
        schema,
    )
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()
    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 1
    left = {(r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()}
    assert left == {("a", 1)}


# ------------------------------------------------ capacity-driven sizing


def test_buckets_for_scales_with_expected_keys():
    """The bucket-count default follows operators/bloom.py's docstring
    sizing table: one bucket's file capped at a single task's working
    size, floor 64."""
    table = {10**6: 64, 10**9: 64, 10**10: 90, 10**11: 893}
    assert {n: PartitionedBloom.buckets_for(n) for n in table} == table
    # a bucket file never exceeds the target
    for n in (10**9, 10**10, 10**11):
        b = PartitionedBloom.buckets_for(n)
        per_bucket_bytes = n * 9.585 / 8 / b
        assert per_bucket_bytes <= (128 << 20) + 1


def test_engine_create_defaults_buckets_from_expected_keys(
    spark, t1_tables, tmp_path
):
    """CrawlEngine.create sizes the partitioned Bloom from the declared
    design capacity instead of a flat 64."""
    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    tabs = t1_tables
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(tabs["politeness"]),
        None,
        CrawlConfig(batch_size=10),
        expected_keys=10**10,
    )
    assert eng.bloom_buckets == 90
    assert eng._bloom.n_buckets == 90
    # an explicit bloom_buckets always wins over the derivation (64 here).
    # 10^8 keys, not 10^10: 8 buckets sized for 10^10 keys are 1.8 GB
    # bitmaps each, all built at once in RAM and written at create
    assert PartitionedBloom.buckets_for(10**8) == 64
    eng2 = CrawlEngine.create(
        spark,
        str(tmp_path / "store2"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(tabs["politeness"]),
        None,
        CrawlConfig(batch_size=10),
        expected_keys=10**8,
        bloom_buckets=8,
    )
    assert eng2._bloom.n_buckets == 8
