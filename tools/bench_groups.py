"""Stage isolation for dedup_groups (guide §1.4: noop sink, labeled jobs).

Times each stage of the dedup_groups pipeline separately at
$SPARK_GRAFT_SF_DIR so the optimization targets the stage that actually
costs, not the one that looks iterative. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/bench_groups.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from ethereum_raw_data_crawler_spark.session import get_spark

    spark = get_spark(cores=cpus, shuffle_partitions=cpus, app_name="bench_groups")
    sc = spark.sparkContext

    from ethereum_raw_data_crawler_spark.operators.dedup import minhash_lsh_pairs
    from ethereum_raw_data_crawler_spark.queries import REGISTRY, _load_all, _t
    from ethereum_raw_data_crawler_spark.queries_pipeline import (
        _grams_col,
        _verified_near_dup_pairs,
    )

    _load_all()
    docs = _t(spark, sf_dir, "documents")
    print("docs:", docs.count())

    sc.setJobDescription("lsh pairs noop")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    print("lsh_pairs noop:", round(noop(pairs), 2), "s")
    t0 = time.monotonic()
    n_pairs = pairs.count()
    print("lsh_pairs count:", n_pairs, round(time.monotonic() - t0, 2), "s")

    sc.setJobDescription("grams noop")
    g = docs.select("doc_id", _grams_col().alias("gs"))
    print("grams noop:", round(noop(g), 2), "s")

    sc.setJobDescription("verified pairs noop")
    vp = _verified_near_dup_pairs(docs)
    print("verified noop:", round(noop(vp), 2), "s")
    t0 = time.monotonic()
    n_vp = vp.count()
    print("verified count:", n_vp, round(time.monotonic() - t0, 2), "s")

    sc.setJobDescription("cc only")
    from ethereum_raw_data_crawler_spark.operators.components import (
        connected_components,
    )

    vpc = vp.select("id_a", "id_b").localCheckpoint(eager=True)
    t0 = time.monotonic()
    cc = connected_components(vpc, src="id_a", dst="id_b")
    n_cc = cc.count()
    print("cc (from checkpointed pairs):", n_cc, round(time.monotonic() - t0, 2), "s")

    sc.setJobDescription("full dedup_groups")
    fn, _sql = REGISTRY["dedup_groups"]
    t0 = time.monotonic()
    out = fn(spark, sf_dir)
    n = len(out.collect())
    print("full dedup_groups:", n, "rows,", round(time.monotonic() - t0, 2), "s")


if __name__ == "__main__":
    main()
