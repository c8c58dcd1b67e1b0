"""CLI entrypoint — the operational face of the engine (the reference's
cmd/schedulers/main.go: config -> connect -> resume -> scheduler loop).

  python -m ethereum_raw_data_crawler_spark crawl \
      --store /data/crawlstore --pages pages.parquet --seeds seeds.parquet \
      [--robots robots.parquet] [--politeness politeness.parquet] \
      [--rounds N] [--batch-size B] [--cores C]

  python -m ethereum_raw_data_crawler_spark resume --store /data/crawlstore [--rounds N]

  python -m ethereum_raw_data_crawler_spark status --store /data/crawlstore

  python -m ethereum_raw_data_crawler_spark delete --store DIR --where "url = '...'"

  python -m ethereum_raw_data_crawler_spark health --store DIR [--last N]

On a cluster, the same module runs under
``spark-submit --py-files pkg.zip -m``-style invocation; nothing here is
local-mode specific except the default session factory.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from ethereum_raw_data_crawler_spark.session import get_spark

    return get_spark(cores=args.cores, app_name="crawl-frontier-cli")


def cmd_crawl(args) -> int:

    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    seeds = spark.read.parquet(args.seeds)
    if args.robots:
        robots = spark.read.parquet(args.robots)
    else:  # allow everything: one row per host, lowercased before the
        # distinct (a host spelled twice would join each candidate twice)
        robots = pages.selectExpr(
            "lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)', 1)) AS host",
            "true AS allowed",
            "cast(null as string) AS disallow_prefix",
        ).distinct()
    if args.politeness:
        politeness = spark.read.parquet(args.politeness)
    else:
        from ethereum_raw_data_crawler_spark.schemas import POLITENESS
        from ethereum_raw_data_crawler_spark.sources.tablestore import empty_frame

        politeness = empty_frame(spark, POLITENESS)
    cfg = CrawlConfig(batch_size=args.batch_size, default_budget=args.default_budget)
    eng = CrawlEngine.create(
        spark, args.store, pages, seeds, robots, politeness, None, cfg,
        egress_dir=args.egress_dir,
        track_host_graph=args.track_host_graph,
    )
    stats = eng.run(max_rounds=args.rounds)
    for s in stats:
        print(json.dumps(s))
    return 0


def cmd_resume(args) -> int:
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    stats = eng.run(max_rounds=(eng.store.round + args.rounds) if args.rounds else None)
    for s in stats:
        print(json.dumps(s))
    return 0


def cmd_hybrid(args) -> int:
    """Hybrid mode dispatch (reference: scheduler_service.go:112-133,
    199-263): per-tick realtime consumption of pushed seed batches with
    polling fallback over the frontier backlog when the source stalls."""
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.streaming.realtime import run_hybrid

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    log = run_hybrid(
        spark, eng, args.stream_dir, ticks=args.ticks,
        rounds_per_batch=args.rounds_per_batch,
    )
    for entry in log:
        print(json.dumps(entry))
    return 0


def cmd_status(args) -> int:
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.schemas import METRICS

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    from pyspark.sql import functions as F

    frontier = eng.frontier()
    by_status = {
        r["status"]: r["count"]
        for r in frontier.groupBy("status").count().collect()
    }
    seen = eng.seen().count()
    metrics = eng.store.read(spark, "metrics", METRICS)
    agg = metrics.where(F.col("partition_id") == -1).agg(
        F.sum("popped").alias("popped"),
        F.sum("fetched").alias("fetched"),
        F.sum("errors").alias("errors"),
        F.sum("deduped").alias("deduped"),
        F.sum("robots_filtered").alias("robots_filtered"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "round": eng.store.round,
                "frontier": by_status,
                "seen": seen,
                "totals": {k: int(agg[k] or 0) for k in agg.asDict()},
            }
        )
    )
    return 0


def cmd_delete(args) -> int:
    """Takedown/redaction (reference: DeleteBlock,
    block_repository_impl.go:264-268): row-level DELETE on pages_out."""
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    n = eng.delete_pages(args.where)
    print(json.dumps({"deleted": n, "where": args.where}))
    return 0


def cmd_forget(args) -> int:
    """Unlearn URLs from the seen set (takedown follow-up / recrawl-TTL):
    deletes the seen rows and rebuilds the Bloom buckets they hash to, so a
    re-discovery rides the definitely-new fast path again."""
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    urls = [u.strip() for u in open(args.urls) if u.strip()]
    n = eng.forget_urls(urls)
    print(json.dumps({"forgotten": n, "requested": len(urls)}))
    return 0


def cmd_health(args) -> int:
    """Component-health rows (reference: system_health collection)."""
    from pyspark.sql import functions as F

    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    h = eng.health()
    if args.last:
        h = h.where(F.col("round") > eng.store.round - args.last)
    for r in h.orderBy("round", "component").collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_rescore(args) -> int:
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    spark = _spark(args)
    eng = CrawlEngine.resume(spark, args.store)
    stats = eng.rescore_priorities(
        top_frac=args.top_frac,
        damping=args.damping,
        iterations=args.iterations,
        boost=args.boost,
    )
    print(json.dumps(stats))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ethereum_raw_data_crawler_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="create a store and crawl")
    c.add_argument("--store", required=True)
    c.add_argument("--pages", required=True)
    c.add_argument("--seeds", required=True)
    c.add_argument("--robots", default=None)
    c.add_argument("--politeness", default=None)
    c.add_argument("--rounds", type=int, default=None)
    c.add_argument("--batch-size", type=int, default=100)
    c.add_argument("--default-budget", type=int, default=5)
    c.add_argument("--egress-dir", default=None,
                   help="publish per-page events here after each commit")
    c.add_argument("--track-host-graph", action="store_true",
                   help="append the per-round host link graph (rescore input)")
    c.set_defaults(fn=cmd_crawl)

    r = sub.add_parser("resume", help="resume from the last snapshot")
    r.add_argument("--store", required=True)
    r.add_argument("--rounds", type=int, default=None)
    r.set_defaults(fn=cmd_resume)

    hy = sub.add_parser(
        "hybrid", help="realtime stream consumption w/ polling fallback"
    )
    hy.add_argument("--store", required=True)
    hy.add_argument("--stream-dir", required=True)
    hy.add_argument("--ticks", type=int, default=1)
    hy.add_argument("--rounds-per-batch", type=int, default=1)
    hy.set_defaults(fn=cmd_hybrid)

    s = sub.add_parser("status", help="store state summary")
    s.add_argument("--store", required=True)
    s.set_defaults(fn=cmd_status)

    d = sub.add_parser("delete", help="row-level DELETE on pages (takedown)")
    d.add_argument("--store", required=True)
    d.add_argument("--where", required=True, help="SQL predicate over pages_out")
    d.set_defaults(fn=cmd_delete)

    fg = sub.add_parser("forget", help="unlearn URLs from the seen set")
    fg.add_argument("--store", required=True)
    fg.add_argument("--urls", required=True, help="file with one URL per line")
    fg.set_defaults(fn=cmd_forget)

    h = sub.add_parser("health", help="per-(round, component) health gauges")
    h.add_argument("--store", required=True)
    h.add_argument("--last", type=int, default=None)
    h.set_defaults(fn=cmd_health)

    rs = sub.add_parser(
        "rescore",
        help="re-prioritize pending frontier rows by host link authority",
    )
    rs.add_argument("--store", required=True)
    rs.add_argument("--top-frac", type=float, default=0.10)
    rs.add_argument("--damping", type=float, default=0.85)
    rs.add_argument("--iterations", type=int, default=8)
    rs.add_argument("--boost", type=int, default=1)
    rs.set_defaults(fn=cmd_rescore)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    try:
        sys.exit(main())
    finally:
        # a session still running at exit makes local-cluster workers
        # relaunch executors; main() itself runs on the tests' shared one
        from pyspark.sql import SparkSession

        if session := SparkSession.getActiveSession():
            session.stop()
