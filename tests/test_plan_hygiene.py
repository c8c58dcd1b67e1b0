"""Plan-hygiene tests (SURVEY.md §7 known-hard #6 and the scale story):

* no row-at-a-time Python (BatchEvalPython) anywhere on the executor path —
  only Arrow-batched pandas UDFs (ArrowEvalPython) and MapInPandas;
* the politeness dim joins broadcast, never shuffles;
* corpus fetch reads only the buckets the popped batch hashes into
  (partition pruning visible in the scan);
* a small round's fixed cost stays small: its job and task counts, the
  seen-filter fold's width, and the per-engine constants.
"""

import uuid

import pandas as pd
from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.functions.spark_udfs import (
    canonicalize_udf,
    url_hash_udf,
)
from ethereum_raw_data_crawler_spark.operators.priority_pop import pop_batch


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _counted(spark, fn):
    """``fn()``'s result, the number of Spark jobs it ran, and the tasks
    each of their stages completed (stage id -> count), read from the
    status tracker."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    # the store evicts skipped stages first (they ran no task) once a long
    # session passes spark.ui.retainedStages
    tasks = {s: i.numCompletedTasks for s in stages if (i := st.getStageInfo(s))}
    return out, len(jobs), tasks


def _t1_engine(spark, tabs, root, **kw):
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    return CrawlEngine.create(
        spark,
        root,
        *[
            spark.createDataFrame(tabs[k])
            for k in ("pages", "seeds", "robots", "politeness", "fetch_failures")
        ],
        CrawlConfig(batch_size=50),
        **kw,
    )


def _pop_with_and_without_pre_prune(spark, eligible, politeness, batch, budget):
    """(rows, executed plan) of a pop, plus the rows of the same pop planned
    with Spark's per-host pre-prune (InferWindowGroupLimit) disabled."""
    popped = pop_batch(eligible, politeness, batch, budget)
    rows = popped.collect()
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        unpruned = pop_batch(eligible, politeness, batch, budget)
        unpruned_rows = unpruned.collect()
        assert "WindowGroupLimit" not in _plan(unpruned)
    finally:
        spark.conf.set(key, saved)
    return rows, _plan(popped), unpruned_rows


def test_no_row_at_a_time_python_in_udf_path(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://h{i}.example/p/{i}" for i in range(10)]})
    )
    out = df.select(canonicalize_udf("url").alias("c")).select(
        url_hash_udf("c").alias("h")
    )
    out.collect()
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_pop_politeness_is_broadcast_join(spark, t1_tables):
    tabs = t1_tables
    eligible = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_canon": [f"https://host{i%5+1}.example/p/{i}" for i in range(100)],
                "host": [f"host{i%5+1}.example" for i in range(100)],
                "priority": [i % 3 for i in range(100)],
                "discovery_ts": pd.to_datetime("2025-01-01", utc=True),
                "url_hash": list(range(100)),
            }
        )
    ).withColumn("priority", F.col("priority").cast("int"))
    politeness = spark.createDataFrame(tabs["politeness"])
    popped = pop_batch(eligible, politeness, 50, 5)
    popped.collect()
    plan = _plan(popped)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the pre-prune (per-partition, per-host top-cap) runs before the
    # host shuffle: its Partial WindowGroupLimit is the Exchange's child
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    ex = next(
        i for i, line in enumerate(lines) if "Exchange hashpartitioning(host" in line
    )
    assert "WindowGroupLimit" in lines[ex + 1]
    assert lines[ex + 1].rstrip().endswith("Partial")


def test_pop_respects_budget_and_order(spark, t1_tables):
    """pop_batch semantics, cross-checked against the same pop with the
    pre-prune disabled (it must be correctness-neutral). Budgets up to
    Spark's windowGroupLimitThreshold (1000) plan the pre-prune; budgets
    above it plan none, and both return the rule-disabled rows."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 500
    hosts = [f"host{int(h)}.example" for h in rng.integers(1, 9, n)]
    pdf = pd.DataFrame(
        {
            "url_canon": [f"https://{h}/p/{i}" for i, h in enumerate(hosts)],
            "host": hosts,
            "priority": rng.integers(0, 3, n).astype("int32"),
            "discovery_ts": pd.to_datetime("2025-01-01", utc=True)
            + pd.to_timedelta(rng.integers(0, 1000, n), unit="s"),
            "url_hash": np.arange(n),
        }
    )
    eligible = spark.createDataFrame(pdf)
    politeness = spark.createDataFrame(t1_tables["politeness"])
    key = lambda r: (r["pop_seq"], r["url_canon"])
    a, plan, b = _pop_with_and_without_pre_prune(spark, eligible, politeness, 40, 5)
    assert "WindowGroupLimit" in plan
    assert sorted(map(key, a)) == sorted(map(key, b))
    # every listed budget above the threshold (the default below it): no
    # pre-prune, the whole pending set pops
    large = politeness.withColumn("budget_per_round", F.lit(1001))
    c, plan, d = _pop_with_and_without_pre_prune(spark, eligible, large, 2000, 5)
    assert "WindowGroupLimit" not in plan
    assert sorted(map(key, c)) == sorted(map(key, d))
    assert len(c) == n
    # hosts 1-5 have budget 2, hosts 6-8 budget 5 -> 5*2 + 3*5 = 25 < batch
    assert len(a) == 25
    budgets = dict(
        zip(t1_tables["politeness"]["host"], t1_tables["politeness"]["budget_per_round"])
    )
    per_host = {}
    for r in a:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    for h, cnt in per_host.items():
        assert cnt <= budgets.get(h, 5)
    # pop order is the total order (priority, host, discovery_ts, url_canon)
    rows = sorted(a, key=lambda r: r["pop_seq"])
    keys = [(r["priority"], r["host"], r["discovery_ts"], r["url_canon"]) for r in rows]
    assert keys == sorted(keys)


def test_pop_large_k_distributed_path_matches_small_k(spark, t1_tables):
    """batch_size > 100k switches to the distributed range-sort + dense
    numbering path (uncached output riding the scratch cache) — it must
    return exactly the small-k result: same rows, same dense pop_seq,
    read stably across multiple consuming actions."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 600
    hosts = [f"host{int(h)}.example" for h in rng.integers(1, 9, n)]
    pdf = pd.DataFrame(
        {
            "url_canon": [f"https://{h}/p/{i}" for i, h in enumerate(hosts)],
            "host": hosts,
            "priority": rng.integers(0, 3, n).astype("int32"),
            "discovery_ts": pd.to_datetime("2025-01-01", utc=True)
            + pd.to_timedelta(rng.integers(0, 1000, n), unit="s"),
            "url_hash": np.arange(n),
        }
    )
    eligible = spark.createDataFrame(pdf)
    politeness = spark.createDataFrame(t1_tables["politeness"])
    scratch = []
    big = pop_batch(eligible, politeness, 200_000, 5, scratch=scratch)
    key = lambda r: (r["pop_seq"], r["url_canon"])
    got1 = sorted(map(key, big.collect()))
    got2 = sorted(map(key, big.collect()))  # second action: same numbering
    assert got1 == got2
    small = pop_batch(eligible, politeness, 100_000, 5)
    want = sorted(map(key, small.collect()))
    assert got1 == want
    seqs = [s for s, _ in got1]
    assert seqs == list(range(len(seqs)))  # dense 0..n-1
    for df in scratch:
        df.unpersist()


def test_corpus_fetch_prunes_buckets(spark, t1_tables, tmp_path):
    """The fetch join must NOT scan the whole corpus: the parquet scan of
    the engine's corpus frame, read once per engine, takes the partition
    filter listing only the popped batch's buckets."""
    from ethereum_raw_data_crawler_spark.plans.rounds import CORPUS, CrawlEngine

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
        n_buckets=16,
    )
    sel = eng._corpus.where("bucket in (1,3)")
    plan = _plan(sel)
    n_total = eng.store.read(spark, "corpus", CORPUS).count()
    assert sel.count() < n_total
    assert "bucket" in plan  # partition filter reached the scan


def test_no_row_at_a_time_udf_in_package_source():
    """Static guard (SURVEY.md §7 known-hard #6): the package must never
    register a row-at-a-time Python UDF — only pandas_udf / mapInPandas /
    applyInPandas are allowed on the executor path."""
    import os
    import re

    import ethereum_raw_data_crawler_spark as pkg

    root = os.path.dirname(pkg.__file__)
    bad = re.compile(r"(?<!pandas_)\budf\s*\(")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(dirpath, f)).read()
            for i, line in enumerate(src.splitlines(), 1):
                if "F.udf(" in line or re.search(r"@udf\b", line):
                    offenders.append(f"{f}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_approx_distinct_close_to_exact(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.1


def test_bloom_no_false_negatives():
    import numpy as np

    from ethereum_raw_data_crawler_spark.operators.bloom import BloomFilter

    rng = np.random.default_rng(3)
    keys = rng.integers(-(2**62), 2**62, 5000)
    bf = BloomFilter(n_bits=1 << 16, k=5)
    bf.add_many(keys[:2500])
    assert bf.contains_many(keys[:2500]).all()  # no false negatives, ever
    fpr = bf.contains_many(keys[2500:]).mean()
    assert fpr < 0.05, fpr


def test_every_registry_query_avoids_row_python(spark):
    """Plan hygiene across the ENTIRE driver query surface (incl. the
    round-2 pipeline variants): no row-at-a-time Python anywhere — only
    Arrow-vectorized exchanges (ArrowEvalPython / mapInPandas)."""
    from ethereum_raw_data_crawler_spark.queries import spark_queries

    sf = "/root/testdata/sf0.001"
    for name, fn in spark_queries().items():
        plan = _plan(fn(spark, sf))
        assert "BatchEvalPython" not in plan, name


def test_shj_width_bounds_build_partition():
    """The shuffled-hash fetch join's build side must be bounded by DATA
    volume, not cluster width: at any (n_popped, conf_width) combination
    no partition may hold more than SHJ_BUILD_ROWS build rows, and wide
    sessions must keep their configured parallelism."""
    from ethereum_raw_data_crawler_spark.gates import SHJ_BUILD_ROWS, shj_width

    # narrow session, huge batch: width comes from the data
    assert shj_width(20_000_000, 2) == -(-20_000_000 // SHJ_BUILD_ROWS)
    # wide session, same batch: session width wins (no lost parallelism)
    assert shj_width(20_000_000, 96) == 96
    # every combination respects the bound
    for rows in (150_000, 1_500_000, 1_500_001, 7_777_777, 100_000_000):
        for w in (2, 8, 32, 96):
            parts = shj_width(rows, w)
            assert -(-rows // parts) <= SHJ_BUILD_ROWS
            assert parts >= w


def test_default_driver_memory_fits_the_host(tmp_path):
    """The driver heap default is 60% of physical memory, capped at 48g:
    a fixed 48g heap let the local-mode JVM outgrow a 15 GB host and be
    OOM-killed, which took every later test's session down with it."""
    from ethereum_raw_data_crawler_spark.session import default_driver_memory

    def on(kib: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemFree:         1024 kB\nMemTotal:       {kib} kB\n")
        return default_driver_memory(str(p))

    assert on(16_479_424) == "9655m"  # a 15.7 GiB host
    assert on(128 << 20) == "49152m"  # a 128 GiB host hits the 48g cap
    assert default_driver_memory(str(tmp_path / "missing")) == "48g"


def test_large_pop_fetch_join_is_shj_with_widened_exchange(spark, t1_tables, tmp_path):
    """Plan the fetch join the engine's ``_fetch`` builds, on both sides of
    the small-batch gate: (a) a small pop broadcasts the popped side;
    (b) a large one is a ShuffledHashJoin with the slim popped side as
    build, and its exchange is hash-partitioned wider than the session
    shuffle width when the batch demands it."""
    import dataclasses
    import re

    from ethereum_raw_data_crawler_spark import gates

    eng = _t1_engine(spark, t1_tables, str(tmp_path / "store"), seen_filter=None)
    pop = eng._pop(1)
    small = _plan(eng._fetch(pop).failed)
    assert "BroadcastHashJoin" in small and "ShuffledHashJoin" not in small, small

    # the same rows counted as a 20M-row pop on this 8-wide session:
    # the exchange must widen to hold <= SHJ_BUILD_ROWS build rows each
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = gates.shj_width(20_000_000, conf_width)
    assert want > conf_width
    large = _plan(eng._fetch(dataclasses.replace(pop, n=20_000_000)).failed)
    eng._drain_scratch()
    assert "ShuffledHashJoin" in large, large
    widths = re.findall(r"hashpartitioning\(url_canon[^,]*, (\d+)\)", large)
    assert str(want) in widths, large


def test_get_spark_sets_the_small_round_confs(spark):
    """AQE may coalesce the shuffles inside cached plans, and the codegen
    cache holds more than one round's generated classes."""
    conf = spark.conf
    assert conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    assert int(conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


#: a t1 round (batch 50, Bloom filter of 64 buckets) on the 8-wide test
#: session runs 28 jobs and 123 tasks; it ran 33 and 270 before cached
#: shuffles coalesced, the filter folded in O(cores) tasks and the pop's
#: constants were computed once per engine, and 29 and 126 while
#: discovery still cached the robots-gated candidates
ROUND_JOBS_MAX = 28
ROUND_TASKS_MAX = 160


def test_small_round_job_and_task_counts(spark, t1_tables, tmp_path):
    """A small discovering round's fixed cost, in Spark jobs and tasks."""
    eng = _t1_engine(spark, t1_tables, str(tmp_path / "store"))
    stats, jobs, tasks = _counted(spark, lambda: eng.run_round(1))
    assert stats["fetched"] and stats["discovered"]
    n_tasks = sum(tasks.values())
    print(f"t1 round: {jobs} jobs, {n_tasks} tasks")
    assert jobs <= ROUND_JOBS_MAX, jobs
    assert n_tasks <= ROUND_TASKS_MAX, n_tasks


def test_filter_fold_runs_in_cores_tasks_and_growth_per_bucket(spark, tmp_path):
    """An add folds its buckets in at most ``defaultParallelism`` tasks —
    several buckets per task, every key still found. Growth rebuilds only
    the grown buckets, one bucket per task."""
    from ethereum_raw_data_crawler_spark.operators.bloom import PartitionedBloom

    n_buckets, cores = 64, spark.sparkContext.defaultParallelism
    assert cores < n_buckets
    pf = PartitionedBloom.create(
        str(tmp_path), n_buckets=n_buckets, size={"n_bits": 1024, "k": 3}, rnd=-1
    )
    keys = spark.range(20_000).select(F.xxhash64("id").alias("url_hash"))
    saturated, _, tasks = _counted(spark, lambda: pf.add_keys(keys, "url_hash", 0))
    assert max(tasks.values()) <= cores, tasks
    assert len(pf.buckets) == n_buckets and pf.n_added_total == 20_000
    new_def, _maybe = pf.probe_split(keys, "url_hash", spark)
    assert new_def.count() == 0  # no false negatives
    assert saturated  # 20k keys overrun 64 buckets of 1024 bits
    grow = saturated[:3]
    before = {b: e["file"] for b, e in pf.buckets.items()}
    _, _, tasks = _counted(
        spark, lambda: pf.grow_buckets(keys, "url_hash", 1, grow)
    )
    assert max(tasks.values()) == n_buckets, tasks
    changed = {b for b, e in pf.buckets.items() if e["file"] != before[b]}
    assert changed == set(grow)
    new_def, _maybe = pf.probe_split(keys, "url_hash", spark)
    assert new_def.count() == 0


def test_pop_cap_is_computed_once_per_engine(spark, t1_tables, tmp_path, monkeypatch):
    """The pop's rank bound is an aggregate over the politeness dim, which
    only ``create`` writes: an engine computes it when it opens, and its
    pops submit no job for it."""
    from ethereum_raw_data_crawler_spark.plans import rounds

    calls = []
    real = rounds.pop_cap
    monkeypatch.setattr(
        rounds, "pop_cap", lambda *a: calls.append(a) or real(*a)
    )
    root = str(tmp_path / "store")
    eng = _t1_engine(spark, t1_tables, root, seen_filter=None)
    assert len(calls) == 1
    first, first_jobs, _ = _counted(spark, lambda: eng._pop(1))
    again, again_jobs, _ = _counted(spark, lambda: eng._pop(1))
    eng._drain_scratch()
    assert len(calls) == 1
    assert (again.n, again.buckets) == (first.n, first.buckets)
    assert again_jobs <= first_jobs
    rounds.CrawlEngine.resume(spark, root)
    assert len(calls) == 2
    # what each pop would otherwise pay
    politeness = eng._dim("politeness", rounds.POLITENESS)
    cap_jobs = _counted(spark, lambda: real(politeness, 50, eng.cfg.default_budget))[1]
    assert cap_jobs >= 1
