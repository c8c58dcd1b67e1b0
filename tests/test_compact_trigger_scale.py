"""The relative compaction trigger at the production shape: a multi-round
crawl with batch >= 1M over a much larger frontier must NOT rewrite the
frontier every round (the round-3 regression this trigger replaces: an
absolute 1M-row threshold made every production-size round pay an
O(frontier) compact). Debt is footer-counted per round; the rewrite runs
only once debt crosses ``compact_debt_frac`` of the base rows.

The corpus is empty, so every popped URL is a miss: rounds exercise the
exact pop -> frontier-MOR-upsert -> delete-debt machinery at full batch
size with zero fetch/parse cost, keeping the test minutes, not hours.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

N_SEEDS = 7_000_000
BATCH = 1_000_000
N_HOSTS = 100_000


@pytest.mark.slow
def test_large_batch_crawl_compacts_at_most_once_in_three_rounds(
    spark, tmp_path
):
    seeds = spark.range(N_SEEDS).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % N_HOSTS).cast("string"),
            F.lit(".example/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.lit(0).cast("int").alias("priority"),
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://unreachable.example/x"],
                "warc_ts": [pd.Timestamp("2025-01-01", tz="UTC")],
                "html": [b"<html></html>"],
                "lang": ["en"],
            }
        )
    )
    robots = spark.createDataFrame(
        pd.DataFrame(
            {"host": ["unreachable.example"], "allowed": [True],
             "disallow_prefix": [None]}
        ).astype({"disallow_prefix": "string"})
    )
    politeness = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.lit(20).cast("int").alias("budget_per_round"),
    )
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        pages,
        seeds,
        robots,
        politeness,
        None,
        # max_retries high: the same 1M URLs stay eligible all 3 rounds,
        # so every round pops a full production-size batch
        CrawlConfig(batch_size=BATCH, max_retries=10, hard_fail_retries=99),
        compact_every=1000,  # only the health trigger may compact
    )
    stats = eng.run(max_rounds=3)
    assert [s["popped"] for s in stats] == [BATCH] * 3

    t = eng.store.manifest()["tables"]["frontier"]
    frag_seqs = [f["seq"] for f in t["fragments"]]
    del_seqs = [f["seq"] for f in t["deletes"]]
    # debt path: r1 ends 1M/8M, r2 starts below frac (no compact), r2 ends
    # 2M/9M, r3 starts above frac -> ONE compact; r3 adds one more round
    # of debt. At most one rewrite in three production-size rounds:
    assert del_seqs == [3], del_seqs
    assert frag_seqs == [2, 3], frag_seqs
    # the precompact phase is metered; rounds 1-2 must not have paid it
    pre = [s["phases_ms"].get("precompact", 0) for s in stats]
    assert pre[0] < 1000 and pre[1] < 1000, pre
    # nothing lost: every seed is still accounted for in the frontier
    assert eng.frontier().count() == N_SEEDS
