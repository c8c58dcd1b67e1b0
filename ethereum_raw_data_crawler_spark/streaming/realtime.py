"""Realtime (push) mode: Structured Streaming over arriving seed batches.

The reference's realtime path is a WebSocket ``newHeads`` subscription
dispatching each pushed block through the SAME processBlock pipeline as
polling (reference: websocket_scheduler.go:164-306 -> scheduler_service.go:
266-321 -> crawler_service.go:373-407). The Spark recast keeps the single
code path: a file-source stream of seed batches, watermarked dedup within
the micro-batch (the NATS 5-minute MsgId window analogue,
nats_client.go:145,205), and ``foreachBatch`` feeding each micro-batch
through the identical ``CrawlEngine`` discovery + round machinery —
late/duplicate arrivals are absorbed by the frontier's seen-set exactly
like the polling fallback re-scan (scheduler_service.go:427-519).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

STREAM_SEED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("event_ts", T.TimestampType(), False),
    ]
)


def run_streaming_ingest(
    spark: SparkSession,
    engine: CrawlEngine,
    seed_stream_dir: str,
    rounds_per_batch: int = 1,
    dedup_watermark: str = "10 minutes",
) -> list[dict]:
    """Consume seed-batch files as a stream; each micro-batch seeds newly
    pushed URLs into the frontier (idempotent via the seen-set) and runs
    ``rounds_per_batch`` crawl rounds. Returns per-batch round stats.

    Synchronous for tests/smoke: processAllAvailable + stop.
    """
    stats: list[dict] = []

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # MsgId-window dedup analogue: collapse duplicate pushes in-batch
        pushed = (
            batch_df.withWatermark("event_ts", dedup_watermark)
            .dropDuplicates(["url"])
            .select("url", F.col("priority").cast("int"))
        )
        engine.admit(pushed, engine.store.round + 1)
        for _ in range(rounds_per_batch):
            stats.append(engine.run_round(engine.store.round + 1))

    q = (
        spark.readStream.schema(STREAM_SEED)
        .option("maxFilesPerTrigger", 1)
        .json(seed_stream_dir)
        .writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", f"{engine.store.root}/_stream_checkpoint"
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stats


def run_hybrid(
    spark: SparkSession,
    engine: CrawlEngine,
    seed_stream_dir: str,
    ticks: int = 1,
    rounds_per_batch: int = 1,
    on_tick=None,
) -> list[dict]:
    """Hybrid mode dispatch (reference: scheduler_service.go:112-133,
    199-263): realtime and polling run off ONE round machine, with the
    scheduler arbitrating per tick —

      * push source has new batches  -> realtime consumption (the WS
        ``newHeads`` path), rounds driven by the pushed seeds;
      * push source stalled          -> polling fallback over the
        existing frontier backlog (the reference's WS-loss fallback
        re-scan, scheduler_service.go:427-519), so a dead subscription
        never stops the crawl;
      * source recovers              -> realtime resumes from the stream
        checkpoint (only unseen batches are consumed — no replays, no
        gaps; late/duplicate pushes are absorbed by the seen-set).

    Each tick drains the stream via the persistent checkpoint; an empty
    drain IS the staleness signal (batch-mode analogue of the reference's
    lastBlockTime staleness monitor). Returns the per-tick dispatch log:
    ``{"tick", "mode": realtime|polling|backoff|idle, "rounds": [...]}`` —
    ``backoff`` = every pending row was skip-blocked, so the tick committed
    an empty round purely to advance the logical clock (skip windows are
    round-denominated; without the empty round they would never expire).
    ``on_tick(t)`` lets tests inject pushes mid-run."""
    log: list[dict] = []
    for t in range(ticks):
        if on_tick is not None:
            on_tick(t)
        stats = run_streaming_ingest(
            spark, engine, seed_stream_dir, rounds_per_batch
        )
        if stats:
            log.append(
                {
                    "tick": t,
                    "mode": "realtime",
                    "rounds": [s["round"] for s in stats],
                }
            )
        elif engine.eligible_count(engine.store.round + 1) > 0:
            s = engine.run_round(engine.store.round + 1)
            log.append({"tick": t, "mode": "polling", "rounds": [s["round"]]})
        elif engine.pending_count() > 0:
            # every pending row is inside a retry-skip window: nothing to
            # pop, but rounds ARE the logical clock, so an empty round must
            # still commit or the skip windows would never expire and the
            # crawl would idle forever. Reported as its own mode so the
            # dispatch log doesn't claim work happened.
            s = engine.run_round(engine.store.round + 1)
            log.append({"tick": t, "mode": "backoff", "rounds": [s["round"]]})
        else:
            log.append({"tick": t, "mode": "idle", "rounds": []})
    return log
