"""Fixed, code-declared schemas for every engine table (FIXTURES.md §1-9).

The reference declares shape via Go structs with bson tags
(reference: internal/domain/entity/block.go:10-37, transaction.go:10-39,
crawler_metrics.go:10-53) and enforces it at (de)serialization plus unique
indexes created at startup (internal/infrastructure/database/mongodb.go:80-176).
We declare StructTypes in one module and create tables at job init — the
Spark analogue of CreateIndexes-at-OnStart (cmd/schedulers/main.go:120).
"""

from __future__ import annotations

from pyspark.sql import types as T

# §1 pages — the web corpus (the fetch source). Exactly the input_hint shape.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

# pages written by the engine: input_hint columns + lineage
# (fetch_round/fetch_seq mirror the reference's processed_at + tx ordering,
# reference: block.go:35, transaction.go:26 transaction_index).
PAGES_OUT = T.StructType(
    list(PAGES.fields)
    + [
        T.StructField("fetch_round", T.IntegerType(), False),
        T.StructField("fetch_seq", T.LongType(), False),
    ]
)

# §2 seeds — initial frontier.
SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# §3 robots — allow-list (broadcast side). Analogue of the SkipReceipts
# config gate (reference: config.go:41; ethereum_service.go:279).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("allowed", T.BooleanType(), False),
        T.StructField("disallow_prefix", T.StringType(), True),
    ]
)

# §4 politeness — per-(host, round) fetch budget. Analogue of the
# client-side rate limiter (reference: ethereum_service.go:585-591),
# enforced at pop time instead of sleep time.
POLITENESS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget_per_round", T.IntegerType(), False),
    ]
)

# §5 frontier — engine state. Analogue of the blocks collection + the
# in-memory failedBlocks/skippedBlocks maps (reference: block.go:10-45;
# scheduler_service.go:47-49) — state lives in the table, not the driver.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovery_ts", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),  # pending|fetched|failed
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("skip_until", T.IntegerType(), True),  # round number
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
    ]
)

# §6 seen — URL-seen set. Analogue of the unique index on number/hash
# (reference: mongodb.go:86-92,111-115): membership decided by anti-join
# BEFORE fetch, so the reference's dup-key-tolerated race
# (crawler_service.go:433-457) cannot occur by construction.
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("first_seen_round", T.IntegerType(), False),
    ]
)

# §7 crawl_trace — ordered fetch log for order-equality vs the oracle.
TRACE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
    ]
)

# §8 metrics — per-(round, partition) lineage counters. Analogue of the
# crawler_metrics snapshots (reference: crawler_metrics.go:10-43;
# crawler_service.go:645-724) at round granularity. ``wall_ms`` is the
# round's wall time up to its commit (the row is written by that commit),
# so it leaves out the commit, egress and compaction; the whole-round wall
# is ``run_round``'s returned ``wall_ms`` and ``phases_ms``.
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("popped", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("robots_filtered", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# §10 health — one component-health row per (round, component). Analogue
# of performHealthCheck -> system_health (reference: crawler_service.go:
# 666-907; crawler_metrics.go:46-53): component status + a numeric gauge,
# written inside the round's atomic commit.
HEALTH = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("healthy", T.BooleanType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)

# §11 host_edges — per-round host-level link-graph aggregate, written
# inside the round's atomic commit when the engine is created with
# ``track_host_graph=True``. One row per (src_host, dst_host, round) with
# ``n`` = number of pages on src_host that linked to dst_host this round
# (per-doc-deduped links, self-host edges excluded). The granularity is
# HOSTS, not URLs, on purpose: a 10^10-URL crawl has ~10^7-10^8 hosts, so
# the accumulated graph stays rescoreable as a slim two-column join while
# a URL-level graph would be another corpus-sized table. Consumed by
# CrawlEngine.rescore_priorities (link-authority frontier prioritization —
# the computed version of the reference's static priority field,
# scheduler_service.go:251-307).
HOST_EDGES = T.StructType(
    [
        T.StructField("src_host", T.StringType(), False),
        T.StructField("dst_host", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# §9 fetch_failures — failure injection (retry/skip semantics).
# fail_attempts holds 1-based fetch-attempt ordinals that raise an
# error, mirroring the failedBlocks/skippedBlocks machine (reference:
# scheduler_service.go:324-357). error_class selects the backoff
# schedule the way the reference's error taxonomy does
# (isRetryableError + class-specific backoff, ethereum_service.go:
# 100-124,594-624): "rate_limit" -> quadratic skip per failure
# (attempt^2, the reference's attempt^2-seconds analogue in rounds);
# "non_retryable" -> failed immediately; NULL / "timeout" / anything
# else -> the default linear schedule (skip_rounds after max_retries).
FETCH_FAILURES = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("fail_attempts", T.ArrayType(T.IntegerType()), False),
        T.StructField("error_class", T.StringType(), True),
    ]
)

STATUS_PENDING = "pending"
STATUS_FETCHED = "fetched"
STATUS_FAILED = "failed"
