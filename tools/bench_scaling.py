"""Scaling-efficiency evidence (BASELINE.json north_rule): run the SAME
crawl job on the SAME input at two parallelism levels (local[N] vs
local[4N] — the sandbox proxy for N vs 4N executors) and report
throughput at both plus efficiency = (T_N * N) / (T_4N * 4N)^-1, i.e.
(throughput_4N / throughput_N) / 4.

Usage: python tools/bench_scaling.py <cores> [rounds] [batch]
Prints one JSON line; tools/run_scaling.sh drives both levels.

Store reuse (for multi-leg pairs at big batches, where engine setup
would dominate wall-clock): SPARK_GRAFT_STORE_TEMPLATE=<dir> —
first invocation builds the store there (once, at whatever core count),
later invocations rsync-copy the template to a scratch dir and
``CrawlEngine.resume`` on the copy, so every leg starts from the
IDENTICAL pre-round state and pays zero setup.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    cores = int(sys.argv[1])
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    batch = int(sys.argv[3]) if len(sys.argv) > 3 else 50_000
    scale = os.environ.get("SPARK_GRAFT_CRAWL_SCALE", "bench")
    template = os.environ.get("SPARK_GRAFT_STORE_TEMPLATE")

    import pandas as pd

    from bench import _bench_corpus_dir
    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.session import get_spark

    giant = os.environ.get("SPARK_GRAFT_GIANT", "0") == "1"
    # shuffle width: a small multiple of cores smooths straggler tails
    # (same rule at every parallelism level, so the comparison is fair)
    mult = int(os.environ.get("SPARK_GRAFT_SHUFFLE_MULT", "1"))
    spark = get_spark(
        cores=cores, shuffle_partitions=cores * mult, app_name=f"scaling-{cores}"
    )
    corpus_dir = _bench_corpus_dir(scale)
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(corpus_dir, "robots.parquet"))
    politeness_pdf = pd.read_parquet(os.path.join(corpus_dir, "politeness.parquet"))
    if giant:
        # production-round shape: the frontier is pre-populated with the
        # full URL universe; one round pops a multi-100k batch. This is
        # what a round at 10^10-frontier scale looks like — per-round
        # fixed costs are amortized over real work.
        from pyspark.sql import functions as F

        seed_path = os.path.join(corpus_dir, "seeds.parquet")
        if os.path.exists(seed_path) and scale.startswith("xl"):
            seeds = spark.read.parquet(seed_path)
        else:
            seeds = pages.select("url", F.lit(0).cast("int").alias("priority"))
        politeness_pdf["budget_per_round"] = batch
    else:
        seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
        politeness_pdf["budget_per_round"] = 1000
    politeness = spark.createDataFrame(politeness_pdf)

    # SPARK_GRAFT_SCRATCH: where the run's store lives. On one box the
    # store's parquet writes otherwise serialize on the single root disk
    # at every core count (a real cluster's disks scale with nodes);
    # /dev/shm is the same honest proxy the shuffle dirs already use.
    root = tempfile.mkdtemp(
        prefix=f"scaling_{cores}_", dir=os.environ.get("SPARK_GRAFT_SCRATCH")
    )
    try:
        cfg = CrawlConfig(batch_size=batch)
        t_setup = time.monotonic()
        if template and os.path.exists(os.path.join(template, "config.json")):
            # copy the prebuilt store so this leg starts from the identical
            # pre-round state (cp -a preserves the fragment layout; the
            # store is self-contained)
            subprocess.run(
                ["cp", "-a", template, os.path.join(root, "store")], check=True
            )
            # per-leg config overrides on the COPY (the template stays
            # pristine): debt-fraction sensitivity + egress measurement
            overrides: dict[str, object] = {}
            debt = os.environ.get("SPARK_GRAFT_COMPACT_DEBT_FRAC")
            if debt is not None:
                overrides["compact_debt_frac"] = float(debt)
            egress = os.environ.get("SPARK_GRAFT_EGRESS", "0") == "1"
            if egress:
                overrides["egress_dir"] = os.path.join(root, "egress")
            # SPARK_GRAFT_TEMPLATE_REBATCH=1: run this leg at the CLI
            # --batch instead of the template's batch_size (multi-round
            # amortization legs pop a fraction of the frontier per round
            # without rebuilding a 12-minute template). The loud
            # batch-mismatch guard below still holds: the copy's config is
            # rewritten to the CLI batch, so resume() and the assert agree.
            rebatch = os.environ.get("SPARK_GRAFT_TEMPLATE_REBATCH", "0") == "1"
            if overrides or rebatch:
                cfg_path = os.path.join(root, "store", "config.json")
                with open(cfg_path) as fh:
                    saved = json.load(fh)
                saved.update(overrides)
                if rebatch:
                    saved["cfg"]["batch_size"] = batch
                with open(cfg_path, "w") as fh:
                    json.dump(saved, fh)
            eng = CrawlEngine.resume(spark, os.path.join(root, "store"))
            # resume loads cfg from the template's config.json — a template
            # built with a different batch would silently bench the wrong
            # configuration, so fail loudly instead
            if eng.cfg.batch_size != batch:
                raise SystemExit(
                    f"template batch_size={eng.cfg.batch_size} != --batch "
                    f"{batch}: rebuild the template or pass the matching batch"
                )
        else:
            build_root = template if template else root
            eng = CrawlEngine.create(
                spark, build_root, pages, seeds, robots, politeness, None, cfg,
                n_buckets=64,
            )
            if template:
                print(
                    json.dumps({"template_built": template,
                                "setup_sec": round(time.monotonic() - t_setup, 2)})
                )
                return
        setup_sec = time.monotonic() - t_setup
        t0 = time.monotonic()
        stats = eng.run(max_rounds=rounds)
        wall = time.monotonic() - t0
        fetched = sum(s["fetched"] for s in stats)
        # steady-state window: skip the warm-up rounds where the frontier
        # is still smaller than the batch
        steady = [s for s in stats if s["popped"] >= batch * 0.5]
        steady_fetched = sum(s["fetched"] for s in steady)
        steady_wall = sum(s["wall_ms"] for s in steady) / 1000.0
        print(
            json.dumps(
                {
                    "cores": cores,
                    "rounds": len(stats),
                    "batch": batch,
                    "setup_sec": round(setup_sec, 2),
                    "wall_sec": round(wall, 2),
                    "fetched": fetched,
                    "urls_per_sec": round(fetched / wall, 1),
                    "steady_rounds": len(steady),
                    "steady_fetched": steady_fetched,
                    "steady_urls_per_sec": round(
                        steady_fetched / steady_wall, 1
                    )
                    if steady_wall
                    else None,
                    "round_wall_ms": [s["wall_ms"] for s in stats],
                    "phases_ms": [s.get("phases_ms") for s in stats],
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
