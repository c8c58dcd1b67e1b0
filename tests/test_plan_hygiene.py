"""Plan-hygiene tests (SURVEY.md §7 known-hard #6 and the scale story):

* no row-at-a-time Python (BatchEvalPython) anywhere on the executor path —
  only Arrow-batched pandas UDFs (ArrowEvalPython) and MapInPandas;
* the politeness dim joins broadcast, never shuffles;
* corpus fetch reads only the buckets the popped batch hashes into
  (partition pruning visible in the scan).
"""

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
    # the pre-prune (map-side per-host top-k) is in the plan
    assert "MapInPandas" in plan


def test_pop_respects_budget_and_order(spark, t1_tables):
    """pop_batch semantics, pruned vs unpruned cross-check (the pre-prune
    must be correctness-neutral)."""
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
    a = pop_batch(eligible, politeness, 40, 5, prune=True).collect()
    b = pop_batch(eligible, politeness, 40, 5, prune=False).collect()
    key = lambda r: (r["pop_seq"], r["url_canon"])
    assert sorted(map(key, a)) == sorted(map(key, b))
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
    big = pop_batch(
        eligible, politeness, 200_000, 5, prune=False, scratch=scratch
    )
    key = lambda r: (r["pop_seq"], r["url_canon"])
    got1 = sorted(map(key, big.collect()))
    got2 = sorted(map(key, big.collect()))  # second action: same numbering
    assert got1 == got2
    small = pop_batch(eligible, politeness, 100_000, 5, prune=False)
    want = sorted(map(key, small.collect()))
    assert got1 == want
    seqs = [s for s, _ in got1]
    assert seqs == list(range(len(seqs)))  # dense 0..n-1
    for df in scratch:
        df.unpersist()


def test_corpus_fetch_prunes_buckets(spark, t1_tables, tmp_path):
    """The fetch join must NOT scan the whole corpus: the parquet scan's
    partition filter lists only the popped batch's buckets."""
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
    sel = eng.store.read(spark, "corpus", CORPUS, partition_filter="bucket in (1,3)")
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
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    tabs = t1_tables
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        *[
            spark.createDataFrame(tabs[k])
            for k in ("pages", "seeds", "robots", "politeness", "fetch_failures")
        ],
        CrawlConfig(batch_size=50),
        seen_filter=None,
    )
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
