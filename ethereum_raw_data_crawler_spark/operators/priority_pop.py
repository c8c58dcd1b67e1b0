"""Priority-queue pop with per-host politeness budgets.

The reference picks its next batch as the key-ordered prefix
``[currentBlock, currentBlock+batchSize]`` (reference:
internal/application/service/crawler_service.go:294-306) and rate-limits
requests with a client-side min-delay (ethereum_service.go:585-591).
Recast set-based (SURVEY.md §2.3 "priority-queue pop"): per-host rank by
(priority, discovery_ts, url_canon) capped at the host's budget, then a
global top-``batch_size`` under the total order
(priority, host, discovery_ts, url_canon).

Scale design: the naive plan shuffles the ENTIRE pending set through a
host-partitioned window every round. We pre-prune map-side with a bounded
per-partition top-k (``_local_host_topk`` via mapInPandas, memory ≤
hosts-in-partition × budget), so the exact window only sees
≤ partitions × hosts × budget rows — the same partial-aggregation trick
a map-side combiner does for sums.

This IS the salted-host repartition for hot-domain skew, in its exact
two-phase form: phase 1 takes the per-(salt, host) top-``budget`` where
the salt is the physical partition id (rows of one host are already
spread across partitions by the frontier's hash layout, so no extra
shuffle is spent planting an explicit salt column); phase 2 re-ranks the
per-salt winners exactly. A host with 10^7 pending rows therefore
contributes at most ``budget`` rows per partition to the shuffle instead
of 10^7 rows into one window task; AQE skew-join splitting
(spark.sql.adaptive.skewJoin) backstops any residual imbalance.
Correctness-neutral: the global per-host top-k is contained in the union
of per-salt top-ks; tests cross-check pruned vs unpruned pops.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ethereum_raw_data_crawler_spark import gates

#: total order of the pop (SURVEY.md §7 known-hard #1)
POP_ORDER = ["priority", "host", "discovery_ts", "url_canon"]
HOST_ORDER = ["priority", "discovery_ts", "url_canon"]


def _local_host_topk(df: DataFrame) -> DataFrame:
    """Per-partition, per-host top-``budget`` rows (bounded-memory
    map-side pre-prune). Expects a ``budget`` column."""
    schema = df.schema

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: pd.DataFrame | None = None
        for pdf in batches:
            combined = pdf if state is None else pd.concat([state, pdf])
            combined = combined.sort_values(
                ["host", "priority", "discovery_ts", "url_canon"],
                kind="mergesort",
            )
            keep = combined.groupby("host", sort=False).cumcount() < combined[
                "budget"
            ].to_numpy()
            state = combined[keep]
        if state is not None and len(state):
            yield state

    return df.mapInPandas(prune, schema)


def pop_batch(
    eligible: DataFrame,
    politeness: DataFrame,
    batch_size: int,
    default_budget: int,
    prune: bool = True,
    scratch: list | None = None,
) -> DataFrame:
    """Pop the next fetch batch from the eligible pending set.

    ``eligible`` must carry POP_ORDER columns; ``politeness`` is the small
    (host, budget_per_round) dim — broadcast, never shuffled.
    Returns the popped rows with a dense ``pop_seq``. Frames cached here
    (the small-k output, the large-k range sort) are appended to
    ``scratch``; the caller unpersists them once the pop is consumed.
    """
    with_budget = eligible.join(
        F.broadcast(politeness), "host", "left"
    ).withColumn(
        "budget",
        F.coalesce(F.col("budget_per_round"), F.lit(default_budget)).cast("int"),
    ).drop("budget_per_round")

    if prune:
        with_budget = _local_host_topk(with_budget)

    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in HOST_ORDER])
    budgeted = (
        with_budget.withColumn("_host_rank", F.row_number().over(w))
        .where(F.col("_host_rank") <= F.col("budget"))
        .drop("_host_rank", "budget")
    )
    if batch_size <= gates.SMALL_BATCH_MAX:
        # small k: Spark plans orderBy+limit as TakeOrdered — per-partition
        # top-k merged on the driver, cheap at this size. Nothing upstream
        # is cached, so a caller that owns a scratch list (the round, which
        # reads the output several times) gets it cached there.
        popped = budgeted.orderBy(*[F.col(c) for c in POP_ORDER]).limit(batch_size)
        popped = assign_global_seq(
            popped, POP_ORDER, "pop_seq", approx_count=batch_size, scratch=scratch
        )
        if scratch is not None:
            popped = popped.cache()
            scratch.append(popped)
        return popped
    # large k: TakeOrdered would stream k rows/partition through the DRIVER.
    # Instead: distributed range-sort, dense global seq, then filter — every
    # stage stays on executors. The output is a cheap map over the range
    # sort assign_global_seq caches, so a second 10^7-row materialization
    # here would only burn memory.
    seqd = assign_global_seq(budgeted, POP_ORDER, "pop_seq", scratch=scratch)
    return seqd.where(F.col("pop_seq") < batch_size)


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    n_partitions: int | None = None,
    approx_count: int | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """Dense global 0-based sequence under ``order_cols`` without a
    single-partition window: range-repartition on the order, count rows
    per partition, then add per-partition offsets map-side. Two passes,
    both scalable (the classic distributed zipWithIndex).

    When the caller already knows the input is small (``approx_count``),
    skip the range-sampling + count passes and sort in one partition —
    zero extra jobs."""
    if approx_count is not None and approx_count <= gates.DRIVER_COLLECT_MAX:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(df.schema.fields) + [T.StructField(seq_col, T.LongType(), False)]
        )

        def number_small(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            i = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf.copy()
                pdf[seq_col] = range(i, i + len(pdf))
                i += len(pdf)
                yield pdf

        return (
            df.coalesce(1)
            .sortWithinPartitions(*[F.col(c) for c in order_cols])
            .mapInPandas(number_small, schema)
        )

    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = max(2, spark.sparkContext.defaultParallelism)
    # CACHED on purpose: repartitionByRange samples its boundaries per
    # execution, so the offsets pass and the numbering pass MUST observe
    # the same physical partitioning. The caller's ``scratch`` list owns
    # the unpersist (the numbering output is consumed lazily).
    ordered = (
        df.repartitionByRange(n_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .cache()
    )
    if scratch is not None:
        scratch.append(ordered)
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # JVM-side numbering, no Arrow roundtrip of the full rows: on the
    # cached sorted partitioning, monotonically_increasing_id() encodes
    # (partition_id << 33) | local_row_index with the local index running
    # in partition iteration order — i.e. the sorted order — so
    # seq = offset[pid] + (mono mod 2^33), all inside codegen.
    #
    # The baked offsets are only valid while ``ordered`` keeps the exact
    # partitioning the counting pass observed. mono encodes ≤2^33 rows per
    # partition (guarded below), and an eval-time check fails loudly —
    # instead of silently duplicating/skipping seq values — if the cache
    # was evicted and repartitionByRange resampled different boundaries:
    # a local row index at or past the counted partition size, or a pid
    # absent from the map, can only mean the partitioning changed.
    assert not counts or max(counts.values()) < (1 << 33), (
        "assign_global_seq: a partition exceeds 2^33 rows; raise n_partitions"
    )
    if offsets:
        offset_map = F.create_map(
            *[
                F.lit(x)
                for pid in offsets
                for x in (int(pid), int(offsets[pid]))
            ]
        )
        count_map = F.create_map(
            *[
                F.lit(x)
                for pid in counts
                for x in (int(pid), int(counts[pid]))
            ]
        )
        local_idx = F.pmod(F.monotonically_increasing_id(), F.lit(1 << 33))
        expected = F.element_at(count_map, F.spark_partition_id())
        guard = F.when(
            expected.isNull() | (local_idx >= expected),
            F.raise_error(
                F.lit(
                    "assign_global_seq: partitioning changed between the "
                    "counting and numbering passes (cache evicted / scratch "
                    "unpersisted before the output was consumed)"
                )
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        seq_expr = (
            F.element_at(offset_map, F.spark_partition_id()) + local_idx + guard
        )
    else:
        seq_expr = F.lit(0).cast("long")
    return with_pid.withColumn(seq_col, seq_expr.cast("long")).drop("_pid")
